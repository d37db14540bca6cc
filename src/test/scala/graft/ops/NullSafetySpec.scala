package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.api.Pipelines

/** A 100 TB corpus WILL contain null, empty and whitespace-only documents;
  * none of the driver fixtures do. Every pipeline operator must flow them
  * through without an ANSI error and with sane semantics: null text is
  * droppable, never job-fatal, and degenerate docs cannot poison the dedup
  * decision for real ones. */
class NullSafetySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def degenerate = {
    import spark.implicits._
    Seq((1L, "the quick brown fox"), (2L, null: String), (3L, ""), (4L, "   "))
      .toDF("doc_id", "text")
  }

  test("qualityReport: null text yields null stats, 'und' language, 'drop' verdict") {
    val rows = Pipelines.qualityReport(degenerate, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    val nullRow = rows(1)
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2))
    assert(nullRow.getString(6) == "und" && nullRow.getString(7) == "drop")
    // The real doc is still scored.
    assert(rows(0).getString(6) == "en")
  }

  test("dedupDecision: degenerate docs cluster among themselves, not with real docs") {
    val rows = Pipelines.dedupDecision(degenerate, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows.size == 4)
    assert(!rows(1L), "the real document must survive")
    // "" and "   " tokenize identically -> one of them is the keeper, the
    // other a drop; the null doc forms its own cluster and survives.
    assert(rows.count(_._2) == 1)
  }

  test("fingerprints and simhash propagate null without erroring") {
    val fp = Pipelines.fingerprints(degenerate, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(fp.length == 4)
    assert(fp(1).isNullAt(1), "shingle signature of a null doc is null")
    val sh = degenerate.select(TextOps.simhash16(col("text"))).collect()
    assert(sh(1).isNullAt(0) && !sh(0).isNullAt(0))
  }

  test("spanDedup: null rows absent, empty/whitespace docs dedup among themselves") {
    val out = DedupOps.spanDedup(degenerate, col("doc_id"), col("text"), 2)
      .orderBy("doc_id", "span_no").collect()
    // Doc 2 (null text) is absent; docs 1/3/4 emit their spans.
    assert(out.map(_.getLong(0)).distinct.toSeq == Seq(1L, 3L, 4L))
    // "" splits to [""] (one empty span) and "   " to ["","","",""] (two
    // all-empty 2-word spans) — they all dedup to doc 3's empty span?
    // No: span texts differ ("" vs " "), so only exact span texts group.
    val empty3 = out.filter(_.getLong(0) == 3L)
    assert(empty3.length == 1 && !empty3(0).getBoolean(4), "first empty span keeps")
    assert(out.forall(r => !r.isNullAt(4)), "no null decisions survive")
  }

  test("contaminationFilter never drops or crashes on null text") {
    val probe = TestSpark.table("documents").where(col("doc_id") < 5)
      .select(explode(TextOps.wordShingles(col("text"), 3)).as("sh")).distinct()
    val kept = graft.streaming.StreamOps.contaminationFilter(
        degenerate, "text", probe, "sh")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // null/empty docs share no shingle with anything -> all pass; the real
    // doc passes unless it collides with the fixture probe (it doesn't).
    assert(kept == Set(1L, 2L, 3L, 4L))
  }

  test("near-dup band keys: a null-text doc forms no key, keeps its token row, pairs nothing") {
    val s = spark
    import s.implicits._
    val docs = TestSpark.table("documents").where(col("doc_id") < 60)
      .select("doc_id", "text").localCheckpoint()
    val withNulls = docs.unionByName(
      Seq((1000L, null: String), (1001L, null: String)).toDF("doc_id", "text"))
    val (keys, toks) = DedupOps.buildNearDupIndex(withNulls, col("doc_id"), col("text"), 8, 4)
    assert(keys.where(col("doc_id") >= 1000).count() == 0, "a null text forms no band key")
    assert(toks.where(col("doc_id") >= 1000).count() == 2, "the doc keeps its token row")
    assert(DedupOps.lshCandidates(keys).where(col("d2") >= 1000).count() == 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      DedupOps.minhashLshDocs(df, col("doc_id"), col("text"), 8, 4, 0.8)
        .collect().map(_.toString).toSet
    val base = pairs(docs)
    assert(base.nonEmpty, "the fixture slice must hold near-dup pairs")
    assert(pairs(withNulls) == base)
  }

  test("dedupAgainst: one decision per batch doc, a null-text doc included") {
    val s = spark
    import s.implicits._
    val prior = Pipelines.dedupState(degenerate.where(col("doc_id") === 1L),
      col("doc_id"), col("text"))
    val batch = Seq((10L, "the quick brown fox"), (11L, null: String), (12L, "jumps over"))
      .toDF("doc_id", "text")
    val rows = Pipelines.dedupAgainst(batch, col("doc_id"), col("text"), prior)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows == Map(10L -> (1L, true), 11L -> (11L, false), 12L -> (12L, false)))
  }

  test("dedupAgainst: a null-text doc is a dup of a prior one, as in the one-shot") {
    val s = spark
    import s.implicits._
    val prior = Pipelines.dedupState(degenerate, col("doc_id"), col("text"))
    val batch = Seq((20L, null: String), (21L, "a fresh document")).toDF("doc_id", "text")
    def decisions(df: org.apache.spark.sql.DataFrame) =
      df.where(col("doc_id") >= 20).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val incremental = decisions(
      Pipelines.dedupAgainst(batch, col("doc_id"), col("text"), prior))
    assert(incremental(20L) == (2L, true), "the prior null-text doc keeps the cluster")
    assert(incremental == decisions(Pipelines.dedupDecision(
      degenerate.unionByName(batch), col("doc_id"), col("text"))))
  }
}
