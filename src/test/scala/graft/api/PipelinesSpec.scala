package graft.api

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PipelinesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def docs = TestSpark.table("documents")

  test("nearDuplicates methods agree: lsh results are exact-jaccard results") {
    val exact = Pipelines.nearDuplicates(docs, col("doc_id"), col("text"), 0.8, "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Pipelines.nearDuplicates(docs, col("doc_id"), col("text"), 0.8, "minhash-lsh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    val dupGroups = Pipelines.nearDuplicates(docs, col("doc_id"), col("text"), 0.8, "exact")
    assert(dupGroups.columns.toSeq == Seq("h", "c", "keep"))
    intercept[IllegalArgumentException] {
      Pipelines.nearDuplicates(docs, col("doc_id"), col("text"), 0.8, "bogus")
    }
  }

  test("qualityReport + qualityFilter partition the corpus consistently") {
    val report = Pipelines.qualityReport(docs, col("doc_id"), col("text"))
    assert(report.columns.toSeq ==
      Seq("doc_id", "n_chars", "n_tok", "ttr", "avg_wlen", "stop_ratio", "lang", "verdict"))
    val keepIds = report.where(col("verdict") === "keep" && col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val filtered = Pipelines.qualityFilter(docs, col("doc_id"), col("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(filtered == keepIds)
  }

  test("fingerprints: one row per doc, stable across runs") {
    val fp1 = Pipelines.fingerprints(docs, col("doc_id"), col("text"))
    assert(fp1.count() == docs.count())
    val a = fp1.orderBy("doc_id").collect().map(_.toSeq)
    val b = Pipelines.fingerprints(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("dedupDecision: one bit per doc, keepers self-referential") {
    val d = Pipelines.dedupDecision(docs, col("doc_id"), col("text"))
    assert(d.count() == docs.count())
    val rows = d.collect()
    assert(rows.filter(!_.getBoolean(2)).forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("similarTo/nearestNeighbor surface the Ann results") {
    val emb = TestSpark.table("embeddings")
    val top = Pipelines.similarTo(emb, 0, 5).collect()
    assert(top.length == 5 && top.head.getLong(0) == 0) // self is most similar
    val nn = Pipelines.nearestNeighbor(
      emb.where(col("vec_id") < 3), emb.where(col("vec_id") >= 3)).collect()
    assert(nn.length == 3)
  }

  test("ops degrade gracefully on empty input") {
    val empty = docs.where(lit(false))
    assert(Pipelines.nearDuplicates(empty, col("doc_id"), col("text")).count() == 0)
    assert(Pipelines.qualityReport(empty, col("doc_id"), col("text")).count() == 0)
    assert(Pipelines.fingerprints(empty, col("doc_id"), col("text")).count() == 0)
  }

  test("contaminatedDocs equals the sketch-free semi join; vocabulary equals GROUP BY/HAVING") {
    import graft.ops.TextOps
    val heldOut = docs.where(col("doc_id") < 10)
    val corpus = docs.where(col("doc_id") >= 10)
    val exactContam = corpus
      .select(col("doc_id"), explode(TextOps.wordShingles(col("text"), 3)).as("sh"))
      .join(heldOut.select(explode(TextOps.wordShingles(col("text"), 3)).as("sh")).distinct(),
        Seq("sh"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val viaPipeline = Pipelines.contaminatedDocs(
        corpus, col("doc_id"), col("text"), heldOut, col("text"))
      .collect().map(_.getLong(0)).toSet
    assert(viaPipeline == exactContam && exactContam.nonEmpty)

    val exactVocab = docs.select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").count().where(col("count") >= 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaVocab = Pipelines.vocabulary(docs, col("text"), n = 1, minCount = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaVocab == exactVocab && exactVocab.nonEmpty)
  }

  test("similaritySearch returns k ordered neighbors per probe") {
    val emb = TestSpark.table("embeddings")
    val out = Pipelines.similaritySearch(
      emb.where(col("vec_id") >= 495), emb.where(col("vec_id") < 495), k = 5)
    val rows = out.collect()
    assert(rows.length == 5 * emb.where(col("vec_id") >= 495).count())
    // rn is 1..k per probe and scores are non-increasing within a probe
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      val scores = sorted.map(_.getDouble(2)).toSeq
      assert(scores == scores.sorted.reverse)
    }
  }

  test("index lifecycle facade: build + extend + indexed search ≡ one-shot IVF search") {
    val emb = TestSpark.table("embeddings")
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val centroids = Pipelines.trainCentroids(
      emb.where(col("vec_id") < 200), k = 8, iters = 2)
    val galA = emb.where(col("vec_id") <= maxId - 40)
    val galB = emb.where(col("vec_id") > maxId - 40 && col("vec_id") <= maxId - 20)
    val probes = emb.where(col("vec_id") > maxId - 20)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pipe-idx").toString + "/idx"
    try {
      Pipelines.buildSimilarityIndex(galA, centroids, "pipe_idx_w", dir)
      val drift = Pipelines.extendSimilarityIndex(
        spark, "pipe_idx_w", dir, galB, centroids).collect()
      assert(drift.map(_.getLong(2)).sum == galB.count())
      val gallery = galA.unionByName(galB)
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val viaIndex = Pipelines.similaritySearchIndexed(
        probes, spark.table("pipe_idx_w"), gallery, centroids, k = 5)
      val oneShot = Pipelines.similaritySearchIvf(probes, gallery, centroids, k = 5)
      assert(canon(viaIndex) == canon(oneShot) && canon(viaIndex).nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS `pipe_idx_w`")
  }

  test("PQ facades are cosine: per-row positive rescaling leaves train + search top-k ids unchanged") {
    val emb = TestSpark.table("embeddings")
    // Power-of-two factors scale a float exactly, so each rescaled row
    // L2-normalizes to the bit-identical unit vector; without the
    // facades' normalization, ADC ranks by raw dot and the big rows win.
    def rescaled(df: org.apache.spark.sql.DataFrame, mod: Int) = {
      val f = pow(lit(2.0), (col("vec_id") % mod - mod / 2).cast("double"))
      df.withColumn("embedding", transform(col("embedding"), x => (x * f).cast("float")))
    }
    val probes = emb.where(col("vec_id") < 20)
    val centroids = Pipelines.trainCentroids(emb, k = 8, iters = 2).localCheckpoint()
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted.toSeq
    def searches(p: org.apache.spark.sql.DataFrame, g: org.apache.spark.sql.DataFrame) = {
      val cb = Pipelines.trainPqCodebook(g, m = 8, k = 64, iters = 4)
      (ids(Pipelines.similaritySearchPq(p, g, cb, k = 10)),
        ids(Pipelines.similaritySearchIvfPq(p, g, centroids, cb, k = 10)))
    }
    val (pq, ivfPq) = searches(probes, emb)
    val (pqScaled, ivfPqScaled) = searches(rescaled(probes, 7), rescaled(emb, 5))
    assert(pq.size == 10 * 20 && ivfPq.nonEmpty)
    assert(pqScaled == pq, "similaritySearchPq top-k moved under row rescaling")
    assert(ivfPqScaled == ivfPq, "similaritySearchIvfPq top-k moved under row rescaling")
  }

  test("canonicalDocs: one best representative per near-dup cluster, singletons pass") {
    val docs = TestSpark.table("documents")
    val kept = Pipelines.canonicalDocs(docs, col("doc_id"), col("text"))
    val rows = kept.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Exactly one representative per cluster; sizes cover the corpus.
    assert(rows.map(_._2).distinct.length == rows.length)
    assert(rows.map(_._3).sum == docs.count())
    assert(rows.exists(_._3 > 1), "fixture corpus is near-dup-dense; expected clusters")
    // The representative maximizes distinct-token count within its cluster:
    // rebuild labels and compare the argmax per cluster.
    val pairs = Pipelines.nearDuplicates(docs, col("doc_id"), col("text")).select("d1", "d2")
    val labels = graft.ops.DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = docs.select(col("doc_id"),
        size(array_distinct(graft.ops.TextOps.tokens(col("text")))).as("q"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expect = q.keys.groupBy(d => labels.getOrElse(d, d)).map { case (c, ds) =>
      c -> ds.minBy(d => (-q(d), d))
    }
    assert(rows.map(r => r._2 -> r._1).toMap == expect)
  }

  test("canonicalDocs joins its connected-components labels with a broadcast hash join") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = Seq((1L, text), (2L, text + " again"), (3L, text),
      (4L, "an entirely different page about something else with other words")).toDF("doc_id", "text")
    val kept = Pipelines.canonicalDocs(near, col("doc_id"), col("text"))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan)
    assert(kept.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap.values.sum == 4L)
  }

  test("curate: monotone funnel, audit matches, cap respected, schema preserved") {
    val docs = TestSpark.table("documents")
    val eval = TestSpark.table("documents").where(col("doc_id") < 5)
      .select(col("text"))
    val res = Pipelines.curate(docs, evalSet = Some(eval), perSourceCap = Some(20))
    val audit = res.audit.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(audit.map(_._2).toSeq ==
      Seq("input", "quality_lang", "lm_gate", "canonical", "decontaminated",
        "capped", "mixed"))
    // Monotone non-increasing funnel, each stage genuinely active.
    val ns = audit.map(_._3).toSeq
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a }, s"not monotone: $ns")
    assert(ns.head == docs.count() && ns.last == res.curated.count())
    assert(ns.last < ns.head, "curation removed nothing — vacuous fixture")
    // The eval docs' own text is 3-gram-contaminated by construction, so
    // their surviving representatives must be gone.
    val keptIds = res.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!(0L until 5L).exists(keptIds), "decontamination left eval-overlap docs")
    // Cap respected per source; input schema preserved.
    val bySource = res.curated.groupBy("source").count()
      .collect().map(_.getLong(1))
    assert(bySource.forall(_ <= 20))
    assert(res.curated.schema == docs.schema)
    // Mixture stage: declared rates act on the CLEAN pool — unlisted
    // sources drop entirely, a rate-1.0 source keeps every clean doc it
    // had at the capped stage, and the audit grows a "mixed" row.
    val mixRes = Pipelines.curate(docs, evalSet = Some(eval), perSourceCap = Some(20),
      mixtureRates = Some(Map("src0" -> 1.0, "src1" -> 0.5)))
    val mixedBySource = mixRes.curated.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixedBySource.keySet.subsetOf(Set("src0", "src1")),
      s"unlisted sources must drop: $mixedBySource")
    val cappedBySource = res.curated.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixedBySource.get("src0") == cappedBySource.get("src0"),
      "rate 1.0 keeps the whole clean source")
    val mixAudit = mixRes.audit.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(mixAudit("mixed") < mixAudit("capped"), s"mixture removed nothing: $mixAudit")
  }

  test("curate semanticDedup stage: embedding twins pruned, unscorable docs ride") {
    import scala.jdk.CollectionConverters._
    val docs = TestSpark.table("documents")
    // Baseline funnel (no semantic stage) to learn the surviving set.
    val base = Pipelines.curate(docs)
    val keptIds = base.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = keptIds.toSeq.sorted.take(2)
    val (a, b) = (survivors(0), survivors(1))
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val embSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    // a and b are semantic twins (cos 3deg); every other survivor has no
    // embedding row — unscorable docs must ride.
    val emb = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(a, at(0)), org.apache.spark.sql.Row(b, at(3))).asJava,
      embSchema)
    val cents = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(0L, at(0))).asJava, embSchema)
    val res = Pipelines.curate(docs, semanticDedup = Some(
      Pipelines.SemanticDedupStage(emb, threshold = 0.9, centroids = Some(cents))))
    val got = res.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == keptIds - b,
      s"only the larger-id twin must die: missing=${keptIds - b -- got} extra=${got -- (keptIds - b)}")
    assert(res.curated.schema == docs.schema)
    val audit = res.audit.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(audit.contains("semantic") && audit("semantic") == audit("canonical") - 1,
      s"semantic stage must account for exactly the twin: $audit")
  }

  test("curate c4Clean: boilerplate lines are rewritten away before every gate") {
    val spark2 = spark
    import spark2.implicits._
    // Pages whose CONTENT passes quality but carry nav/cookie lines that
    // must never reach dedup or the quality ratios; plus one brace page
    // the c4 page gate must kill outright.
    val docs = TestSpark.table("documents").limit(100)
      .select(col("doc_id"),
        concat(lit("Home | About | Contact\n"), col("text"),
          lit(".\nAccept all cookies\n"),
          when(col("doc_id") === 7L, "var cfg = {a: 1}")
            .otherwise("A tail line stands here. It carries sentences. More follow now. And again here. Plus a final one."))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    val res = Pipelines.curate(docs, c4Clean = true)
    val audit = res.audit.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(res.audit.collect().map(_.getString(1)).toSeq.take(3) ==
      Seq("input", "c4_clean", "quality_lang"), "c4 stage must audit FIRST")
    assert(audit("c4_clean") < audit("input"), "the brace page must die in c4")
    val texts = res.curated.select("text").collect().map(_.getString(0))
    assert(texts.nonEmpty)
    assert(!texts.exists(t => t.contains("Home | About") || t.contains("Accept all cookies")),
      "boilerplate lines leaked through the funnel")
    assert(res.curated.where(col("doc_id") === 7L).isEmpty,
      "the brace page survived")
    // Default funnel shape unchanged: no c4 row unless asked for.
    assert(!Pipelines.curate(docs).audit.collect().map(_.getString(1)).contains("c4_clean"))
  }

  test("curate host-authority gate: link-farm hosts die, unknown hosts keep, schema rides") {
    val spark2 = spark
    import spark2.implicits._
    // Web graph: every farm page links to hub.org (hub collects all the
    // authority); the farms get no in-links and sit at the teleport
    // floor. Rank with the REAL operator so the test covers the whole
    // consumption path: links → hostAuthority → curate gate.
    val links = (1 to 40).map(i =>
      (s"https://farm$i.spam/p", "https://hub.org/")).toDF("src_url", "dst_url")
    val ranks = Pipelines.hostAuthority(
      links, col("src_url"), col("dst_url"), iterations = 5).localCheckpoint()
    val hubRank = ranks.where(col("host") === "hub.org").head().getDouble(2)
    val farmRank = ranks.where(col("host") === "farm1.spam").head().getDouble(2)
    assert(hubRank > 1.0 && farmRank < 1.0, s"fixture ranks: $hubRank / $farmRank")
    // Docs: on the hub (keep), on farms (drop), on a host the graph has
    // never seen (keep — prior, not allowlist), and URL-less (keep).
    val docs = TestSpark.table("documents").limit(120)
      .withColumn("url",
        when(col("doc_id") % 4 === 0, concat(lit("https://HUB.org/d/"), col("doc_id")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://farm"), (col("doc_id") % 40 + 1).cast("string"),
              lit(".spam/d/"), col("doc_id")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://newsite.example/d/"), col("doc_id"))))
    val res = Pipelines.curate(docs, hostAuthorityGate = Some(
      Pipelines.HostAuthorityGate(ranks, floor = 0.5, url = col("url"))))
    assert(res.curated.columns.toSeq == docs.columns.toSeq, "schema must ride through")
    val kept = res.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty)
    assert(!kept.exists(_ % 4 == 1), "farm-host docs must die in the authority gate")
    // Against the ungated funnel: every non-farm doc the baseline kept
    // still survives — the hub docs pass the case-folded host join, and
    // unknown-host / URL-less docs keep (authority is a prior, not an
    // allowlist). kept may legitimately EXCEED that set: removing a
    // farm doc that was a near-dup cluster's representative re-elects
    // representatives in its cluster (and a removed node can split a
    // cluster into several, each electing one) — but a baseline winner
    // can never be dethroned by removing its competitors.
    val base = Pipelines.curate(docs)
    val baseKept = base.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(baseKept.filterNot(_ % 4 == 1).subsetOf(kept),
      s"gate dropped non-farm docs: kept=$kept base=$baseKept")
    assert(kept.exists(_ % 4 == 0) && kept.exists(_ % 4 == 2) && kept.exists(_ % 4 == 3))
    // The audit carries the new stage, in order, doing the work.
    val names = res.audit.collect().map(_.getString(1)).toSeq
    assert(names.indexOf("host_authority") == names.indexOf("quality_lang") + 1)
    val audit = res.audit.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(audit("host_authority") < audit("quality_lang"),
      s"authority stage removed nothing: $audit")
    // Default funnel shape unchanged.
    assert(!base.audit.collect().map(_.getString(1)).contains("host_authority"))
    // Duplicate host rows in the rank table (unioned snapshots) collapse
    // deterministically instead of duplicating every doc on that host.
    val dupRanks = ranks.unionByName(
      ranks.where(col("host") === "hub.org")
        .withColumn("nrank", col("nrank") - 0.1)).localCheckpoint()
    val resDup = Pipelines.curate(docs, hostAuthorityGate = Some(
      Pipelines.HostAuthorityGate(dupRanks, floor = 0.5, url = col("url"))))
    assert(resDup.curated.count() == res.curated.count(),
      "a duplicated rank row must not duplicate documents through the funnel")
  }

  test("hostHits: hub and authority sides; curate gate consumes HITS authority interchangeably") {
    val spark2 = spark
    import spark2.implicits._
    // catalog.org is the HUB-side winner (it points at every content
    // host — the aggregator shape a frontier scheduler treats
    // differently); hub.org is the AUTHORITY-side winner (every content
    // host endorses it). PageRank can only see the second signal.
    val links = ((1 to 3).map(i => ("https://catalog.org/idx", s"https://site$i.org/p")) ++
      (1 to 3).map(i => (s"https://site$i.org/p", "https://hub.org/")))
      .toDF("src_url", "dst_url")
    val hh = Pipelines.hostHits(links, col("src_url"), col("dst_url"),
      iterations = 4).localCheckpoint()
    val m = hh.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m("hub.org")._2 > m("site1.org")._2 && m("site1.org")._2 > 0,
      s"authority order wrong: $m")
    assert(m("catalog.org")._2 == 0.0, "no in-links → zero authority")
    assert(m("hub.org")._1 == 0.0, "no out-links → zero hub")
    assert(m("catalog.org")._1 == m.values.map(_._1).max && m("catalog.org")._1 > 0,
      s"the aggregator must win the hub side: $m")
    // The gate consumes `auth` via scoreCol — sub-floor hosts drop,
    // unknown hosts keep (prior, not allowlist) — interchangeable with
    // a PageRank table.
    val floor = (m("hub.org")._2 + m("site1.org")._2) / 2
    val docs = TestSpark.table("documents").limit(80)
      .withColumn("url",
        when(col("doc_id") % 3 === 0, concat(lit("https://hub.org/d/"), col("doc_id")))
          .when(col("doc_id") % 3 === 1, concat(lit("https://site1.org/d/"), col("doc_id")))
          .otherwise(concat(lit("https://fresh.example/d/"), col("doc_id"))))
    val res = Pipelines.curate(docs, hostAuthorityGate = Some(
      Pipelines.HostAuthorityGate(hh, floor = floor, url = col("url"),
        scoreCol = col("auth"))))
    val kept = res.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty)
    assert(!kept.exists(_ % 3 == 1),
      "docs on sub-floor-authority hosts must die in the gate")
    assert(kept.exists(_ % 3 == 0) && kept.exists(_ % 3 == 2),
      "high-authority and unknown hosts must survive")
    val names = res.audit.collect().map(_.getString(1)).toSeq
    assert(names.contains("host_authority"))
  }

  test("loop facades: streamCommunityLabels / streamHostAuthorityEvents fold takedowns into netted results") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft-loopfacade").toString
    // One batch carrying appends AND a removal: a triangle plus a spur,
    // with the spur's edge removed in the same stream (later file).
    val b0 = Seq(("h1", "h2", false), ("h2", "h3", false), ("h3", "h1", false),
      ("h3", "spur", false))
    val b1 = Seq(("h3", "spur", true))
    val src = s"$root/src"
    val schema = b0.toDF("src", "dst", "removed").schema
    val stream = () => spark.readStream.schema(schema).parquet(src)
    // Two separate runs so the removal arrives in its OWN micro-batch —
    // in one batch the within-batch add-wins convention would
    // (correctly) keep the pair.
    def runLabels(): Unit = {
      val q = Pipelines.streamCommunityLabels(stream(), "src", "dst", "removed",
        iterations = 2, s"$root/lst", s"$root/led", s"$root/lout", s"$root/lck",
        trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination(120000); q.stop()
    }
    def runRanks(): Unit = {
      val q = Pipelines.streamHostAuthorityEvents(stream(), "src", "dst", "removed",
        iterations = 10, s"$root/rst", s"$root/red", s"$root/rout", s"$root/rck",
        trigger = Some(Trigger.AvailableNow()), damping = 0.5)
      q.awaitTermination(120000); q.stop()
    }
    b0.toDF("src", "dst", "removed").write.mode("append").parquet(src)
    runLabels(); runRanks()
    b1.toDF("src", "dst", "removed").write.mode("append").parquet(src)
    runLabels(); runRanks()
    val labels = graft.streaming.LabelLoop.latestLabels(spark, s"$root/lst", 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.keySet == Set("h1", "h2", "h3"),
      s"the removed spur must leave the label map: $labels")
    val ranks = graft.streaming.RankLoop.latestRanks(spark, s"$root/rst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.keySet == Set("h1", "h2", "h3"),
      s"a delisted host's rank rows must drop: $ranks")
    // The consumption path: the maintained state table feeds the curate
    // gate with the documented (node, r) column mapping.
    val docs = TestSpark.table("documents").limit(30)
      .withColumn("url",
        when(col("doc_id") % 2 === 0, lit("https://spur/page"))
          .otherwise(lit("https://h1/page")))
    val res = Pipelines.curate(docs, hostAuthorityGate = Some(
      Pipelines.HostAuthorityGate(
        graft.streaming.RankLoop.latestRanks(spark, s"$root/rst"),
        floor = 1.0, url = col("url"),
        hostCol = col("node"), scoreCol = col("r"))))
    // spur is ABSENT from the maintained table → unknown host → keeps
    // (prior, not allowlist); h1 is present and above the floor — so
    // the authority stage removes NOTHING relative to the ungated
    // funnel (the other stages still take their usual cut).
    assert(res.curated.count() == Pipelines.curate(docs).curated.count())
    assert(res.audit.collect().map(_.getString(1)).contains("host_authority"))
  }

  test("fuzzy decontamination: paraphrased eval leaks die where the exact n-gram gate is blind") {
    val spark2 = spark
    import spark2.implicits._
    // Eval doc + a PARAPHRASED corpus leak: same token SET, fully
    // reordered — shared 3-grams ≈ none (exact gate blind), token
    // Jaccard = 1.0 (fuzzy gate catches). A clean doc shares nothing.
    val evalText = "the quick brown fox jumps over the lazy dog near the riverbank today"
    // Exact word reversal: identical token SET (Jaccard 1.0), zero
    // shared 3-grams (a reversed sequence only repeats a trigram of the
    // original if the text has mirrored runs, which this one doesn't).
    val paraphrased = evalText.split(" ").reverse.mkString(" ")
    val verbatim = s"prefix words here $evalText suffix words there"
    val clean = "completely unrelated content about distributed query engines and shuffles"
    val corpus = Seq(
      (1L, paraphrased), (2L, verbatim), (3L, clean)).toDF("doc_id", "text")
    val eval = Seq(Tuple1(evalText)).toDF("text")
    // The exact gate sees the verbatim leak only.
    val exact = Pipelines.contaminatedDocs(corpus, col("doc_id"), col("text"),
      eval, col("text")).collect().map(_.getLong(0)).toSet
    assert(exact == Set(2L),
      s"exact 3-gram gate should catch only the verbatim leak: $exact")
    // The fuzzy gate sees both leaks and not the clean doc.
    val fuzzy = Pipelines.fuzzyContaminatedDocs(corpus, col("doc_id"), col("text"),
      eval, col("text"), threshold = 0.8).collect().map(_.getLong(0)).toSet
    assert(fuzzy.contains(1L), s"paraphrased leak missed: $fuzzy")
    assert(!fuzzy.contains(3L), s"clean doc flagged: $fuzzy")
    // curate(fuzzyEval): both leaks die at the decontamination stage;
    // the fixture rows must first survive the scalar gates (they are
    // plain English sentences, long enough).
    val docs = corpus.withColumn("source", lit("s0"))
      .withColumn("text", concat_ws(" ", col("text"), col("text"), col("text")))
    // Tripling keeps token sets identical (sets ignore multiplicity) so
    // the Jaccard story holds while lengths pass the quality gate.
    val res = Pipelines.curate(docs, evalSet = Some(eval.select(
        concat_ws(" ", col("text"), col("text"), col("text")).as("text"))),
      fuzzyEval = Some(0.8))
    val kept = res.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(1L) && !kept.contains(2L),
      s"leaks must die in curate(fuzzyEval): $kept")
    // Hygiene: fuzzyEval without an evalSet refuses.
    intercept[IllegalArgumentException] {
      Pipelines.curate(docs, fuzzyEval = Some(0.8))
    }
  }

  test("takedown(): one call tombstones across every targeted index family, audited") {
    val spark2 = spark
    import spark2.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-takedown").toString
    val docs = TestSpark.table("documents").where(col("doc_id") < 120)
      .select("doc_id", "text").localCheckpoint()
    val emb = TestSpark.table("embeddings").where(col("vec_id") < 120)
      .localCheckpoint()
    try {
      graft.ops.Ann.persistIvfIndex(
        graft.ops.Ann.ivfIndex(emb, graft.ops.Ann.kmeans(emb, 4, iters = 2)),
        "td_ivf", s"$root/ivf", buckets = 4)
      graft.ops.DedupOps.persistNearDupIndex(
        graft.ops.DedupOps.buildNearDupIndex(docs, col("doc_id"), col("text"),
          k = 8, bands = 4),
        "td_nd", s"$root/nd", buckets = 4)
      graft.ops.SketchOps.persistBm25Index(
        graft.ops.SketchOps.buildBm25Index(docs, col("doc_id"), col("text")),
        "td_bm", s"$root/bm", buckets = 4)
      val targets = Pipelines.TakedownTargets(
        ivf = Some(("td_ivf", s"$root/ivf")),
        nearDup = Some(("td_nd", s"$root/nd")),
        bm25 = Some(("td_bm", s"$root/bm")),
        buckets = 4)
      val victims = Seq(7L, 11L).toDF("doc_id")
      val audit = Pipelines.takedown(spark, victims, targets)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(audit.keySet == Set("ivf", "near_dup", "bm25"),
        s"one audit row per targeted family: $audit")
      assert(audit.values.forall(_ >= 2L),
        s"both victims were live everywhere: $audit")
      // The victims are invisible in every LIVE view.
      assert(graft.ops.Ann.loadIvfIndexLive(spark, "td_ivf", s"$root/ivf", 4)
        .where(col("g_id").isin(7L, 11L)).count() == 0)
      val (ndKeys, ndToks) =
        graft.ops.DedupOps.loadNearDupIndexLive(spark, "td_nd", s"$root/nd", 4)
      assert(ndKeys.where(col("doc_id").isin(7L, 11L)).count() == 0 &&
        ndToks.where(col("doc_id").isin(7L, 11L)).count() == 0)
      assert(graft.ops.SketchOps.bm25QueryIndexed(spark, "td_bm", s"$root/bm",
          Seq("the", "data"), buckets = 4)
        .where(col("doc_id").isin(7L, 11L)).count() == 0)
      // Idempotent: re-deleting the same ids is a no-op everywhere.
      val again = Pipelines.takedown(spark, victims, targets)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(again.values.forall(_ == 0L), s"re-delete must be a no-op: $again")
      // Naming no target refuses.
      intercept[IllegalArgumentException] { Pipelines.TakedownTargets() }
    } finally {
      Seq("td_ivf", "td_nd_bk", "td_nd_tk", "td_bm_po", "td_bm_dl").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("curate lm gate: gibberish falls below the floor, real docs survive it") {
    val spark2 = spark
    import spark2.implicits._
    val real = TestSpark.table("documents").limit(200)
    // Gibberish rows that PASS the scalar quality/lang gate (long
    // enough, word-shaped, stopwords sprinkled so langGuess says "en")
    // but are out-of-distribution at the trigram level.
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val junk = TestSpark.table("documents").limit(40)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", (1 to 35).flatMap(i => Seq(
          lit(stop(i % stop.size)),
          substring(md5(concat(col("text"), lit(i))), 1, 7))): _*).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val mixed = real.unionByName(junk)
    val gated = Pipelines.curate(mixed, lmScoreFloor = Some(-8.0))
    val kept = gated.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.exists(_ >= 1000000L), "lm gate let gibberish through")
    assert(kept.nonEmpty, "lm gate dropped everything — floor miscalibrated")
    // The audit shows the gate doing the work (junk survives stage 1).
    val audit = gated.audit.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(audit("quality_lang") > audit("lm_gate"),
      s"lm stage removed nothing: $audit")
    // Without the floor the same gibberish flows through to dedup.
    val ungated = Pipelines.curate(mixed)
    val keptUngated = ungated.curated.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(keptUngated.exists(_ >= 1000000L),
      "fixture failed: junk should pass the scalar quality gate")
  }

  /** The all-stages curate fixture: c4 boilerplate around every page (one
    * brace page the c4 gate kills), a URL per doc (farm hosts below the
    * authority floor, a hub above it, unknown hosts and no URL), and
    * heuristic-passing gibberish for the LM gate. */
  private lazy val curateDocs: org.apache.spark.sql.DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val real = TestSpark.table("documents")
    val junk = TestSpark.table("documents").where(col("doc_id") < 20)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", (1 to 35).flatMap(i => Seq(
          lit(stop(i % stop.size)),
          substring(md5(concat(col("text"), lit(i))), 1, 7))): _*).as("text"),
        col("lang"), col("source"), col("n_chars"))
    real.unionByName(junk)
      .withColumn("text", concat(lit("Home | About | Contact\n"), col("text"),
        lit(".\nAccept all cookies\n"),
        when(col("doc_id") === 7L, "var cfg = {a: 1}").otherwise(curateTail)))
      .withColumn("url",
        when(col("doc_id") % 5 === 0, concat(lit("https://hub.org/d/"), col("doc_id")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("https://farm"), (col("doc_id") % 7).cast("string"),
              lit(".spam/d/"), col("doc_id")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("https://fresh.example/d/"), col("doc_id"))))
      .localCheckpoint()
  }

  // Five sentences for the c4 page gate, three distinct tokens: a tail
  // every page shares must not make the pages near-duplicates.
  private val curateTail = "Yes it is. Yes it is. Yes it is. Yes it is. Yes it is."

  /** The side inputs of every optional stage: a rank table with a
    * duplicated host row, a classifier that learned src0-9 from the rest,
    * embedding twins (ids 2k and 2k+1) under one centroid, an eval slice
    * with two word-reversed pages (exact-gate blind), mixture rates that
    * leave two sources out. */
  private lazy val curateSides = {
    import scala.jdk.CollectionConverters._
    val spark2 = spark
    import spark2.implicits._
    val ranks = (Seq(("hub.org", 2.0), ("hub.org", 1.5)) ++
      (0 until 7).map(i => (s"farm$i.spam", 0.1))).toDF("host", "nrank")
    val labeled = curateDocs.select(col("text").as("t"),
      when(col("source").isin((0 until 10).map(i => s"src$i"): _*), 1.0)
        .otherwise(0.0).as("y"))
    val model = graft.ops.LinearClassifier.train(labeled, col("t"), col("y"),
      dim = 1 << 12, iters = 8)
    val at = (deg: Double) => Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val embSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val emb = spark.createDataFrame((0L until 500L).map(i =>
      org.apache.spark.sql.Row(i, at((i / 2) * 0.7 + (i % 2) * 0.1))).asJava, embSchema)
    val cents = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(0L, at(0))).asJava, embSchema)
    val eval = TestSpark.table("documents").where(col("doc_id") < 5).select(col("text"))
      .unionByName(curateDocs.where(col("doc_id").isin(30L, 31L))
        .select(array_join(reverse(split(graft.ops.TextOps.c4CleanLines(col("text")), " ")),
          " ").as("text")))
      .localCheckpoint()
    val rates = (0 until 15).map(i => s"src$i" -> 0.6).toMap ++
      (15 until 18).map(i => s"src$i" -> 1.0)
    (ranks, model, emb, cents, eval, rates)
  }

  private def curateAll(docs: org.apache.spark.sql.DataFrame,
                        cap: Option[Int]): Pipelines.CurationResult = {
    val (ranks, model, emb, cents, eval, rates) = curateSides
    Pipelines.curate(docs, evalSet = Some(eval), perSourceCap = cap,
      lmScoreFloor = Some(-8.0), mixtureRates = Some(rates), c4Clean = true,
      classifierFloor = Some((model, 0.5)),
      hostAuthorityGate = Some(Pipelines.HostAuthorityGate(ranks, 0.5, col("url"))),
      semanticDedup = Some(Pipelines.SemanticDedupStage(emb, threshold = 0.99999,
        centroids = Some(cents))),
      fuzzyEval = Some(0.8))
  }

  /** [[curateAll]]'s funnel composed stage by stage from the public
    * operators, each stage counted on its own: the survivors as (doc_id,
    * text) and the audit rows. */
  private def curateReference(docs: org.apache.spark.sql.DataFrame, cap: Option[Int])
      : (Seq[(Long, String)], Seq[(Int, String, Long, String)]) = {
    import graft.ops.TextOps
    val (ranks, model, emb, cents, eval, rates) = curateSides
    val (id, text) = (col("doc_id"), col("text"))
    val c4 = docs.withColumn("__clean", TextOps.c4CleanLines(text))
      .where(TextOps.c4PageKeep(col("__clean"), text))
      .withColumn("text", col("__clean")).drop("__clean")
    val quality = c4.where(TextOps.qualityVerdict(text) === "keep" &&
      TextOps.langGuess(text) === "en")
    val bestRank = ranks.groupBy(col("host").as("__ah"))
      .agg(max(col("nrank")).as("__ascore"))
    val hostKept = quality.withColumn("__ahost", Pipelines.urlHost(col("url")))
      .join(bestRank, col("__ahost") === col("__ah"), "left")
      .where(col("__ascore").isNull || col("__ascore") >= 0.5)
      .drop("__ahost", "__ah", "__ascore")
    val lmKept = graft.streaming.StreamOps.lmFilter(hostKept, "text",
      TextOps.ngramModel(hostKept, text), -8.0)
    val clsKept = Pipelines.classifierFilter(lmKept, id, text, model, 0.5)
    val canon = clsKept.join(Pipelines.canonicalDocs(clsKept, id, text, 0.8)
      .select(col("doc_id").as("__keep")), id === col("__keep"), "left_semi")
    val canonEmb = emb.join(canon.select(id.as("__sid")), col("vec_id") === col("__sid"),
      "left_semi")
    val sem = canon.join(graft.ops.Ann.semDedupDrops(canonEmb, cents, 0.99999)
      .select(col("vec_id").as("__sdrop")), id === col("__sdrop"), "left_anti")
    val dirty = Pipelines.contaminatedDocs(sem, id, text, eval, col("text"))
      .unionByName(Pipelines.fuzzyContaminatedDocs(sem, id, text, eval, col("text"), 0.8))
      .distinct().select(col("doc_id").as("__dirty"))
    val clean = sem.join(dirty, id === col("__dirty"), "left_anti")
    val capped = cap.fold(clean)(k => Pipelines.sampleExactK(clean, "source", "doc_id", k))
    val mixed = Pipelines.mixSources(capped, "source", "doc_id", rates)
    val stages = Seq("input" -> docs, "c4_clean" -> c4, "quality_lang" -> quality,
      "host_authority" -> hostKept, "lm_gate" -> lmKept, "classifier" -> clsKept,
      "canonical" -> canon, "semantic" -> sem, "decontaminated" -> clean,
      "capped" -> capped, "mixed" -> mixed)
    (survivorRows(mixed), stages.zipWithIndex.map { case ((name, df), i) =>
      (i, name, df.count(), null: String) })
  }

  private def survivorRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def auditRows(res: Pipelines.CurationResult): Seq[(Int, String, Long, String)] =
    res.audit.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq

  test("curate ≡ its stage frames composed one by one, every optional stage on") {
    val res = curateAll(curateDocs, cap = Some(2))
    val (rows, audit) = curateReference(curateDocs, cap = Some(2))
    assert(survivorRows(res.curated) == rows)
    assert(auditRows(res) == audit)
    assert(res.curated.schema == curateDocs.schema)
    // Every stage of the fixture does work, so the equality is not vacuous.
    val ns = audit.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => b < a }, s"a stage removed nothing: $audit")
  }

  test("curate ≡ its stage frames when two rows share a doc_id and only one passes quality") {
    // Same id, a page that passes the c4 gate but is too short for the
    // quality gate.
    val twin = curateDocs.where(col("doc_id") === 12L)
      .withColumn("text", lit(s"Home | About\n$curateTail"))
    val docs = curateDocs.unionByName(twin)
    val res = curateAll(docs, cap = None)
    val (rows, audit) = curateReference(docs, cap = None)
    assert(survivorRows(res.curated) == rows)
    assert(auditRows(res) == audit)
    val byStage = audit.map(a => a._2 -> a._3).toMap
    assert(byStage("c4_clean") == byStage("input") - 1 &&
      byStage("quality_lang") < byStage("c4_clean"), s"twin fixture inert: $audit")
  }

  test("curate's result is cut: collecting the audit or the survivors never re-runs the funnel") {
    // Every stage but the host gate, whose rank table adds one broadcast
    // job to each collect.
    val (_, model, emb, cents, eval, rates) = curateSides
    val res = Pipelines.curate(curateDocs, evalSet = Some(eval), perSourceCap = Some(2),
      lmScoreFloor = Some(-8.0), mixtureRates = Some(rates), c4Clean = true,
      classifierFloor = Some((model, 0.5)),
      semanticDedup = Some(Pipelines.SemanticDedupStage(emb, threshold = 0.99999,
        centroids = Some(cents))),
      fuzzyEval = Some(0.8))
    def jobs(f: => Any): Int = {
      val sc = spark.sparkContext
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.addSparkListener(l)
      try { f; org.apache.spark.graft.ListenerBusDrain(sc); n.get }
      finally sc.removeSparkListener(l)
    }
    val auditJobs = jobs(res.audit.collect())
    val curatedJobs = jobs(res.curated.collect())
    assert(auditJobs <= 3, s"audit collect ran $auditJobs jobs")
    assert(curatedJobs <= 4, s"curated collect ran $curatedJobs jobs")
  }

  test("sampleExactK: exact size per stratum, deterministic across layouts") {
    val docs = TestSpark.table("documents").select("source", "doc_id")
    val k = 5
    def draw(df: org.apache.spark.sql.DataFrame) =
      Pipelines.sampleExactK(df, "source", "doc_id", k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val a = draw(docs)
    val b = draw(docs.repartition(7)) // layout-independent
    assert(a == b)
    val perStratum = a.groupBy(_._1).map { case (s, xs) => s -> xs.size }
    val totals = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perStratum.foreach { case (s, n) => assert(n == math.min(k, totals(s))) }
    // A different seed draws a different (but equally-sized) sample.
    val c = Pipelines.sampleExactK(docs, "source", "doc_id", k, seed = "s1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(c.size == a.size && c != a)
  }

  test("stratifiedSample: seeded, per-row deterministic, near-target fractions") {
    val docs = TestSpark.table("documents")
    val frac = Map("src0" -> 1.0, "src1" -> 0.5) // src2+ dropped: mixture spec
    val a = Pipelines.stratifiedSample(docs, "source", frac, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Pipelines.stratifiedSample(docs, "source", frac, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "same seed must choose the same rows")
    val bySrc = Pipelines.stratifiedSample(docs, "source", frac, seed = 7L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.keySet == Set("src0", "src1"), s"strata outside the spec survived: $bySrc")
    assert(bySrc("src0") == full("src0"), "fraction 1.0 keeps every row")
    val r1 = bySrc("src1").toDouble / full("src1")
    assert(r1 > 0.2 && r1 < 0.8, s"src1 sampled fraction $r1 far from 0.5")
  }

  test("mixSources: exact proportions at scale, deterministic, layout-independent") {
    import spark.implicits._
    // Synthetic mixture large enough that the 2^-32-exact thresholds must
    // land within tight binomial bounds (n = 10k/source, 3σ ≈ 1.5%).
    val n = 10000
    val mixed = spark.range(3L * n)
      .select(col("id").as("doc_id"),
        concat(lit("s"), (col("id") % 3).cast("string")).as("source"))
    val rates = Map("s0" -> 0.8, "s1" -> 0.25, "s2" -> 0.0)
    def accepted(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      Pipelines.mixSources(df, "source", "doc_id", rates)
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val a = accepted(mixed)
    assert(a("s2") == 0L, "rate 0 must drop the whole source")
    assert(math.abs(a("s0").toDouble / n - 0.8) < 0.02, s"s0 rate ${a("s0").toDouble / n}")
    assert(math.abs(a("s1").toDouble / n - 0.25) < 0.02, s"s1 rate ${a("s1").toDouble / n}")
    // Determinism across layouts: a repartitioned input accepts the SAME
    // id set (content hash, not RNG state).
    val ids = Pipelines.mixSources(mixed, "source", "doc_id", rates)
      .select("doc_id").as[Long].collect().toSet
    val ids2 = Pipelines.mixSources(mixed.repartition(13), "source", "doc_id", rates)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == ids2, "acceptance must not depend on partitioning")
    // Unlisted sources are dropped; rate 1.0 keeps every row; a changed
    // seed draws a DIFFERENT (independent) sample.
    val whole = Pipelines.mixSources(mixed, "source", "doc_id", Map("s1" -> 1.0))
    assert(whole.agg(count(lit(1))).head().getLong(0) == n.toLong)
    val reseeded = Pipelines.mixSources(mixed, "source", "doc_id", rates, seed = "mix2")
      .select("doc_id").as[Long].collect().toSet
    assert(reseeded != ids, "a new seed must draw an independent sample")
    // NULL ids are dropped — never collapsed onto one shared draw.
    val withNulls = Seq((Some(1L), "s0"), (None, "s0"), (None, "s0"))
      .toDF("doc_id", "source")
    assert(Pipelines.mixSources(withNulls, "source", "doc_id", Map("s0" -> 1.0))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      Pipelines.mixSources(mixed, "source", "doc_id", Map("s0" -> 1.2))
    }
    intercept[IllegalArgumentException] {
      Pipelines.mixSources(mixed, "source", "doc_id", Map.empty)
    }
  }

  test("sampleToTokenBudget: bucketed plan ≡ global window, boundary tight, deterministic") {
    val docs = TestSpark.table("documents").select("doc_id", "text")
    val budget = 20000L
    val kept = Pipelines.sampleToTokenBudget(docs, "doc_id", "text", budget)
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // The oracle form: one global window over the seeded-md5 order.
    val h = md5(concat_ws(":", lit("tb"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window.orderBy(h, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val oracle = docs
      .withColumn("__run",
        sum(coalesce(size(split(col("text"), " ")), lit(0)).cast("bigint")).over(w))
      .where(col("__run") <= budget)
    val want = oracle.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == want, s"bucketed ≠ window: extra=${ids -- want} missing=${want -- ids}")
    assert(ids.nonEmpty && ids.size < docs.count(), "fixture must cut somewhere")
    // Boundary is tight: kept tokens fit, kept + the next doc would not.
    val keptTok = kept.agg(sum(coalesce(size(split(col("text"), " ")), lit(0))
      .cast("bigint"))).head().getLong(0)
    assert(keptTok <= budget, s"kept $keptTok > budget")
    // Deterministic across layouts; schema preserved.
    val again = Pipelines.sampleToTokenBudget(docs.repartition(13), "doc_id",
      "text", budget).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == ids)
    assert(kept.schema == docs.schema)
    // Budget 0 keeps nothing; an over-budget keeps everything.
    assert(Pipelines.sampleToTokenBudget(docs, "doc_id", "text", 0L).count() == 0L)
    assert(Pipelines.sampleToTokenBudget(docs, "doc_id", "text", 1L << 40)
      .count() == docs.count())
    intercept[IllegalArgumentException] {
      Pipelines.sampleToTokenBudget(docs, "doc_id", "text", -1L)
    }
  }

  test("corpusReport: volume exact, sections complete, domains fold to the apex, dup pressure counted") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumped over the lazy dog and it was good " * 3,
        "srcA", "https://news.bbc.co.uk/a"),
      (2L, "the quick brown fox jumped over the lazy dog and it was good " * 3,
        "srcA", "https://www.bbc.co.uk/b"), // exact-prefix dup of 1
      (3L, "a completely different document about rivers and roads in the sun " * 3,
        "srcB", "https://example.org/c"),
      (4L, "zz", "srcB", null) // short -> quality drop; null URL stratum
    ).toDF("doc_id", "text", "source", "url")
    val rep = Pipelines.corpusReport(docs, sourceCol = Some("source"),
      urlCol = Some("url"))
    val rows = rep.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows(("volume", "docs")) == 4.0)
    assert(rows(("volume", "chars")) ==
      docs.agg(sum(length(col("text")))).head().getLong(0).toDouble)
    assert(rows(("volume", "tokens")) > 0.0)
    assert(rows(("source", "srcA")) == 2.0 && rows(("source", "srcB")) == 2.0)
    // Docs 1 and 2 share their 64-char prefix: one dup group, one
    // redundant doc.
    assert(rows(("exact_dup", "prefix64_groups")) == 1.0)
    assert(rows(("exact_dup", "prefix64_redundant_docs")) == 1.0)
    // Subdomains fold to the registrable apex (the capPerDomain key).
    assert(rows(("domain", "bbc.co.uk")) == 2.0)
    assert(rows(("domain", "example.org")) == 1.0)
    assert(rows(("domain", "unparsed")) == 1.0)
    // Language + quality sections partition the corpus.
    assert(rows.collect { case (("lang", _), n) => n }.sum == 4.0)
    assert(rows.collect { case (("quality", _), n) => n }.sum == 4.0)
    intercept[IllegalArgumentException] { Pipelines.corpusReport(docs, topK = 0) }
  }

  test("temperatureRates: n^alpha shares, alpha=1 keeps all, zero sources drop, end-to-end through mixSources") {
    // alpha = 1: identity mixing.
    assert(Pipelines.temperatureRates(Map("a" -> 10L, "b" -> 99999L), 1.0) ==
      Map("a" -> 1.0, "b" -> 1.0))
    // alpha = 0.5 flattens: the SMALL source keeps rate 1, the big one
    // keeps sqrt-proportionally less — surviving counts ∝ n^alpha.
    val r = Pipelines.temperatureRates(Map("big" -> 10000L, "small" -> 100L), 0.5)
    assert(r("small") == 1.0)
    assert(math.abs(r("big") - 0.1) < 1e-12, s"got ${r("big")}")
    // alpha > 1 sharpens: the big source keeps rate 1.
    val r2 = Pipelines.temperatureRates(Map("big" -> 10000L, "small" -> 100L), 2.0)
    assert(r2("big") == 1.0 && math.abs(r2("small") - 0.01) < 1e-12)
    // Zero-count sources rate 0; an all-zero census keeps nothing.
    assert(Pipelines.temperatureRates(Map("a" -> 0L, "b" -> 10L), 0.5)("a") == 0.0)
    assert(Pipelines.temperatureRates(Map("a" -> 0L), 0.5) == Map("a" -> 0.0))
    intercept[IllegalArgumentException] { Pipelines.temperatureRates(Map("a" -> 1L), 0.0) }
    intercept[IllegalArgumentException] { Pipelines.temperatureRates(Map("a" -> -1L), 0.5) }
    intercept[IllegalArgumentException] { Pipelines.temperatureRates(Map.empty, 0.5) }
    // End-to-end: temperature rates through mixSources land each source
    // within binomial noise of its n^alpha share.
    val mixed = spark.range(11000L)
      .select(col("id").as("doc_id"),
        when(col("id") < 10000L, "big").otherwise("small").as("source"))
    val rates = Pipelines.temperatureRates(Map("big" -> 10000L, "small" -> 1000L), 0.5)
    val got = Pipelines.mixSources(mixed, "source", "doc_id", rates)
      .groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got("small") == 1000L, "the least-represented source keeps everything")
    // big survives at sqrt(1000/10000) ~= 0.3162 of 10000 — 3 sigma ~= 1.4%.
    assert(math.abs(got("big").toDouble / 10000 - math.sqrt(0.1)) < 0.02,
      s"big kept ${got("big")} of 10000, want ~${math.sqrt(0.1) * 10000}")
  }

  test("lmBucketedSample: head kept whole, tail dropped, middle thinned, deterministic") {
    import spark.implicits._
    // 40 in-distribution fixture docs + 20 OOV-heavy gibberish docs; the
    // reference model is the full fixture corpus. Gibberish scores far
    // below real text (StreamLmSpec pins the separation), so with 1/3
    // buckets the tail is exactly the gibberish.
    val ref = docs.select("doc_id", "text")
    val real = ref.where(col("doc_id") < 40)
    val junk = spark.range(1000, 1020).select(col("id").as("doc_id"),
      concat_ws(" ", md5(col("id").cast("string")),
        md5((col("id") + 7).cast("string"))).as("text"))
    val corpus = real.unionByName(junk)
    val rates = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.0)
    def sample(df: org.apache.spark.sql.DataFrame) =
      Pipelines.lmBucketedSample(df, "doc_id", "text", ref, rates)
    val out = sample(corpus).select("doc_id", "lm_bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet.forall(_ < 1000), s"no gibberish may survive a tail rate of 0: $out")
    val buckets = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(buckets.getOrElse("head", 0) == 20, s"head (top third) kept whole: $buckets")
    val mid = buckets.getOrElse("middle", 0)
    assert(mid >= 4 && mid <= 16, s"middle thinned at ~0.5: $buckets")
    assert(!out.values.exists(_ == "tail"))
    // Deterministic across layouts.
    val out2 = sample(corpus.repartition(11)).select("doc_id").as[Long].collect().toSet
    assert(out2 == out.keySet, "the draw must not depend on partitioning")
    intercept[IllegalArgumentException] {
      Pipelines.lmBucketedSample(corpus, "doc_id", "text", ref, Map("best" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Pipelines.lmBucketedSample(corpus, "doc_id", "text", ref, rates, headFrac = 0.8, midFrac = 0.5)
    }
  }

  test("splitWeighted: partitions at declared proportions, deterministic, null-safe") {
    import spark.implicits._
    val n = 30000L
    val ids = spark.range(n).select(col("id").as("doc_id"))
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), Pipelines.splitWeighted("doc_id", w).as("split"))
    def assign2(df: org.apache.spark.sql.DataFrame, ws: Seq[(String, Double)]) =
      df.select(Pipelines.splitWeighted("doc_id", ws).as("split"))
        .groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val by = assign(ids).groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by.keySet == Set("train", "val", "test"), s"every bucket hit: $by")
    assert(by.values.sum == n, "a split PARTITIONS — nothing dropped")
    assert(math.abs(by("train").toDouble / n - 0.8) < 0.01, s"train ${by("train")}")
    assert(math.abs(by("val").toDouble / n - 0.1) < 0.01, s"val ${by("val")}")
    // Layout-independent, and a null id gets a NULL split, never a draw.
    val a = assign(ids).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = assign(ids.repartition(17)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    val withNull = Seq(Some(1L), None).toDF("doc_id")
    val got = assign(withNull).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toMap
    assert(got(-1L) == null && got(1L) != null)
    intercept[IllegalArgumentException] {
      Pipelines.splitWeighted("doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
    // Degenerate spec (a -> ~1.0, b -> ε): the clamped threshold must
    // send ~everything to 'a' — the unclamped 9-char hex string would
    // lexicographically invert the allocation (~94% to 'b').
    val degen = assign2(ids, Seq("a" -> (1.0 - 1e-10), "b" -> 1e-10))
    assert(degen.getOrElse("b", 0L) == 0L && degen("a") == n,
      s"clamped threshold must allocate the ~1.0 bucket everything: $degen")
  }

  test("capPerDomain: subdomains share the apex budget, draw deterministic") {
    import spark.implicits._
    // 10 docs on sub*.heavy.org, 2 on light.net, 1 unparseable.
    val d = ((0L until 10L).map(i => (i, s"https://sub$i.heavy.org/p/$i")) ++
      Seq((20L, "https://www.light.net/a"), (21L, "https://light.net/b"),
        (30L, "not a url"),
        // Single-label hosts: DISTINCT strata (their own hosts), never a
        // shared '' bucket.
        (40L, "https://localhost/x"), (41L, "https://intranet/y"))).toDF("doc_id", "url")
    def cap(df: org.apache.spark.sql.DataFrame) =
      Pipelines.capPerDomain(df, "url", "doc_id", 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = cap(d)
    assert(kept.count(_ < 10L) == 3, s"heavy.org capped at 3 ACROSS subdomains: $kept")
    assert(kept.count(id => id >= 20L && id < 30L) == 2, "under-cap domain passes whole")
    assert(kept.contains(30L), "sole unparseable row fits the null-domain cap")
    assert(kept.contains(40L) && kept.contains(41L),
      "single-label hosts are their own strata, not one shared '' budget")
    assert(cap(d.repartition(5)) == kept, "draw must not depend on layout")
    // PSL-lite: co.uk subdomains share ONE registrable-domain budget —
    // the naive last-two-labels key would give every subdomain its own.
    val uk = (0L until 8L).map(i => (i, s"https://sub$i.beeb.co.uk/p"))
      .toDF("doc_id", "url")
    assert(cap(uk).size == 3, "beeb.co.uk must cap at 3 across subdomains")
  }

  test("bm25Rank: only term-matching docs score, scores positive, params validated") {
    val scored = Pipelines.bm25Rank(docs, col("doc_id"), col("text"),
      Seq("data", "stream"))
    val rows = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.nonEmpty && rows.values.forall(_ > 0), "BM25 +1-idf scores are positive")
    // Exactly the docs containing at least one query term are scored.
    val matching = docs
      .where(array_contains(split(col("text"), " "), "data") ||
        array_contains(split(col("text"), " "), "stream"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.keySet == matching, "ranker scores exactly the matching docs")
    intercept[IllegalArgumentException] {
      Pipelines.bm25Rank(docs, col("doc_id"), col("text"), Nil)
    }
    intercept[IllegalArgumentException] {
      Pipelines.bm25Rank(docs, col("doc_id"), col("text"), Seq("x"), b = 1.5)
    }
  }

  test("packSequences: hand-computed chunk assignment, layout-independent") {
    import spark.implicits._
    val d = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L),
      ("b", 1L, 300L), ("b", 2L, 10L)).toDF("src", "ord", "toks")
    def packed(df: org.apache.spark.sql.DataFrame) =
      Pipelines.packSequences(df, "src", "ord", col("toks"), 128)
        .select("src", "ord", "pack_id", "pack_off", "crosses")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val p = packed(d)
    // Stream a, budget 128: starts 0/100/200 → packs 0/0/1, offsets
    // 0/100/72; the second and third cross a boundary (off + 100 > 128).
    assert(p(("a", 1L)) == ((0L, 0L, false)))
    assert(p(("a", 2L)) == ((0L, 100L, true)))
    assert(p(("a", 3L)) == ((1L, 72L, true)))
    // Stream b is independent: a 300-token doc starts pack 0 and crosses;
    // the next starts at 300 → pack 2, offset 44.
    assert(p(("b", 1L)) == ((0L, 0L, true)))
    assert(p(("b", 2L)) == ((2L, 44L, false)))
    assert(packed(d.repartition(7)) == p, "assignment must not depend on partitioning")
    intercept[IllegalArgumentException] {
      Pipelines.packSequences(d, "src", "ord", col("toks"), 0)
    }
  }

  test("tokenize facade: exact token budget over a trained merge table") {
    val docs = TestSpark.table("documents").where(col("doc_id") < 30)
    val merges = Pipelines.trainTokenizer(docs, col("text"), numMerges = 10)
    assert(merges.size == 10)
    val toks = Pipelines.tokenize(docs, col("doc_id"), col("text"), merges)
    assert(toks.count() == docs.count())
    assert(toks.where(col("n_tokens") <= 0).count() == 0)
  }

  test("warcDocuments: archive payloads land as curation-ready text rows") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets
    def crlf(lines: String*) = lines.mkString("", "\r\n", "\r\n")
      .getBytes(StandardCharsets.UTF_8)
    def rec(typ: String, uri: String, body: Array[Byte]) =
      crlf("WARC/1.0", s"WARC-Type: $typ", s"WARC-Target-URI: $uri",
        s"Content-Length: ${body.length}", "") ++ body ++
        "\r\n\r\n".getBytes(StandardCharsets.US_ASCII)
    def http(status: String, ctype: String, payload: String) =
      crlf(s"HTTP/1.1 $status", s"Content-Type: $ctype", "") ++
        payload.getBytes(StandardCharsets.UTF_8)
    val archive =
      rec("response", "http://e.com/ok", http("200 OK", "text/html", "<p>kept</p>")) ++
      rec("response", "http://e.com/gone", http("404 Not Found", "text/html", "<p>x</p>")) ++
      rec("request", "http://e.com/ok", crlf("GET /ok HTTP/1.1", "")) ++
      rec("response", "http://e.com/bin", http("200 OK", "image/png", "xx"))
    val out = Pipelines.warcDocuments(
        Seq((7L, archive)).toDF("asset_id", "payload"),
        col("asset_id"), col("payload"))
      .collect()
    // Only the 200 text response survives the funnel gate.
    assert(out.map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq == Seq((7L, "http://e.com/ok", "kept", 4L)))
  }

  test("AQE is live: runtime coalescing appears in a shuffled agg plan") {
    val df = TestSpark.table("lineitem").groupBy("l_partkey").count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") || plan.contains("coalesced"),
      s"AQE runtime re-plan not visible:\n$plan")
  }

  private def events = TestSpark.table("events")
    .select("event_id", "user_id", "event_type", "value")

  private def canonRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("leaderboard: seeded history + stream with restart ≡ one-shot top-k") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft-pipe-lb").toString
    val (src, state, ckpt) = (s"$root/src", s"$root/state", s"$root/ckpt")
    val hist = events.where(col("event_id") % 3 === 0)
    val live1 = events.where(col("event_id") % 3 === 1)
    val live2 = events.where(col("event_id") % 3 === 2)

    def runOnce(seed: Option[org.apache.spark.sql.DataFrame]): Unit = {
      val q = Pipelines.leaderboard(
        spark.readStream.schema(events.schema).parquet(src),
        Seq("event_type"), "value", "event_id", 5, state, ckpt,
        seed = seed, trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination(120000); q.stop()
    }
    live1.write.mode("append").parquet(src)
    runOnce(seed = Some(hist)) // STOP — mid-stream restart
    live2.write.mode("append").parquet(src)
    // A supervisor re-invokes the IDENTICAL call (seed included): the
    // live state wins and the seed is skipped, not re-applied/thrown.
    runOnce(seed = Some(hist))

    val board = Pipelines.currentLeaderboard(spark, state).get
    val oneShot = graft.streaming.TopKLoop.topK(
      events, Seq("event_type"), "value", "event_id", 5)
    assert(canonRows(board) == canonRows(oneShot) && board.count() > 0)
  }

  test("distinctCensus: seeded history + stream with restart ≡ direct count(distinct)") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft-pipe-dc").toString
    val (src, state, ckpt) = (s"$root/src", s"$root/state", s"$root/ckpt")
    val hist = events.where(col("event_id") % 3 === 0)
    val live1 = events.where(col("event_id") % 3 === 1)
    val live2 = events.where(col("event_id") % 3 === 2)

    def runOnce(seed: Option[org.apache.spark.sql.DataFrame]): Unit = {
      val q = Pipelines.distinctCensus(
        spark.readStream.schema(events.schema).parquet(src),
        Seq("event_type"), "user_id", state, ckpt,
        seed = seed, trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination(120000); q.stop()
    }
    live1.write.mode("append").parquet(src)
    runOnce(seed = Some(hist)) // STOP — mid-stream restart
    live2.write.mode("append").parquet(src)
    runOnce(seed = Some(hist)) // identical re-invocation resumes, not re-seeds

    val census = Pipelines.currentDistinct(spark, state, Seq("event_type"), "user_id").get
    val direct = events.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n_distinct_user_id"))
    assert(canonRows(census) == canonRows(direct) && census.count() > 0)
  }

  test("rollupTable: seeded history + stream with restart ≡ direct aggregate (incl. avg)") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft-pipe-ru").toString
    val (src, state, ckpt) = (s"$root/src", s"$root/state", s"$root/ckpt")
    val hist = events.where(col("event_id") % 3 === 0)
    val live1 = events.where(col("event_id") % 3 === 1)
    val live2 = events.where(col("event_id") % 3 === 2)

    def runOnce(seed: Option[org.apache.spark.sql.DataFrame]): Unit = {
      val q = Pipelines.rollupTable(
        spark.readStream.schema(events.schema).parquet(src),
        Seq("event_type"), Seq("value"), state, ckpt,
        seed = seed, trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination(120000); q.stop()
    }
    live1.write.mode("append").parquet(src)
    runOnce(seed = Some(hist)) // STOP — mid-stream restart
    live2.write.mode("append").parquet(src)
    runOnce(seed = Some(hist)) // identical re-invocation must resume, not re-seed

    val rollup = Pipelines.currentRollup(spark, state, Seq("event_type"), Seq("value")).get
      .select("event_type", "n", "sum_value", "avg_value")
    val direct = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(28,8)")).cast("double"), 4).as("sum_value"),
        round((sum(col("value").cast("decimal(28,8)")) / count(col("value")))
          .cast("double"), 4).as("avg_value"))
    assert(canonRows(rollup) == canonRows(direct) && rollup.count() > 0)
  }
}
