package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-time operators defined ONCE and valid in both execution modes: a
  * batch DataFrame computes the final state directly, a streaming DataFrame
  * (readStream/MemoryStream) computes the same state incrementally.
  * Replay-equivalence (SURVEY.md §2.6) is the correctness contract: feeding
  * a stream the batch rows in event-time order must converge to the batch
  * result — StreamSpec asserts exactly that.
  *
  * Scale posture: all of these are keyed state over hash-partitioned
  * groups; watermarks bound state size (without one, 100 TB of stream state
  * never ages out). `withEventTime` is therefore the mandatory front door
  * for unbounded sources.
  */
object StreamOps {

  // Max decimal width, not the batch oracle's (18,4): under ANSI a value
  // past the narrow type's range would CAST_OVERFLOW and kill the
  // streaming query permanently (restarts replay the same poison row).
  // Numeric results are identical where both fit, so replay-equivalence
  // with the batch forms is unaffected.
  private val dec = DecimalType(38, 4)

  /** Declare the event-time column + allowed lateness. On a stream this
    * bounds state and defines the drop line for late rows; on batch it is
    * the identity. Watermarks require TIMESTAMP (not NTZ); with the session
    * zone pinned to UTC the cast is a pure reinterpretation, so window
    * boundaries agree with the NTZ batch math. */
  def withEventTime(df: DataFrame, delay: String, tsCol: String = "ts"): DataFrame =
    if (df.isStreaming)
      // Explicit TimestampType: with spark.sql.timestampType=TIMESTAMP_NTZ
      // the "timestamp" type NAME resolves back to NTZ.
      df.withColumn(tsCol, col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
        .withWatermark(tsCol, delay)
    else df

  /** Tumbling event-time window per event_type (the q38 workload as a
    * window-struct aggregation). */
  def tumblingAgg(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"), sum(col("value").cast(dec)).as("v"))

  /** Sliding event-time window (q39 workload): `width` window advancing by
    * `slide`. */
  def slidingAgg(events: DataFrame, width: String = "1 hour",
                 slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("c"), sum(col("value").cast(dec)).as("v"))

  /** Session windows per user with an inactivity gap (q37 workload):
    * merges events closer than `gap`, closes a session after silence. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Sessions-per-user rollup of [[sessionAgg]] — comparable to the
    * declared q37 result. */
  def sessionsPerUser(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    sessionAgg(events, gap)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"))

  /** Stream-stream band join — the streaming twin of the declared q14/q67
    * batch band joins: left events joined to right events with the same key
    * and `rightTs ∈ (leftTs, leftTs + band]`. Call [[withEventTime]] on BOTH
    * inputs first: the watermarks plus this explicit time-range condition
    * are what let Spark BOUND each side's join state (a keyless or
    * range-free stream-stream join would buffer forever — the 100 TB
    * posture is state ≈ band + lateness, not the stream). Works identically
    * on batch frames (plain join, no state). Output: left columns prefixed
    * `l_`, right prefixed `r_`. */
  def bandJoin(left: DataFrame, right: DataFrame, key: String,
               bandSeconds: Long, tsCol: String = "ts",
               joinType: String = "inner"): DataFrame = {
    val l = left.columns.foldLeft(left)((df, c) => df.withColumnRenamed(c, s"l_$c"))
    val r = right.columns.foldLeft(right)((df, c) => df.withColumnRenamed(c, s"r_$c"))
    // The time-bound equi+band condition is what makes OUTER stream-stream
    // joins legal: Spark can only emit a null-padded unmatched row once the
    // watermark proves no in-band partner can still arrive, and the band
    // bound is that proof. joinType "left_outer"/"right_outer"/"full_outer"
    // therefore require BOTH sides watermarked (withEventTime).
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"r_$tsCol") > col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"interval $bandSeconds second"),
      joinType)
  }

  /** Exactly-once-per-key view of an at-least-once stream: drop duplicate
    * `keyCols` rows. NOTE: streaming dropDuplicates only evicts state when
    * the event-time column is among the dedup keys — with keys like
    * (event_id), state grows with distinct keys FOREVER, watermark or not.
    * That is the intended semantics here (a key is a duplicate whenever it
    * reappears); for bounded state use [[dedupWithinWatermark]]. */
  def dedup(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.dropDuplicates(keyCols)

  /** Bounded-state dedup: duplicates are only recognized within the
    * watermark delay, and per-key state is dropped once the watermark
    * passes it — the 100 TB stream posture (call [[withEventTime]] first).
    * On batch frames it degrades to plain dropDuplicates (batch has no
    * state to bound). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String]): DataFrame =
    if (events.isStreaming) events.dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Streaming NEAR-duplicate filter: keep the first document seen per
    * MinHash fingerprint key ([[graft.ops.DedupOps.sigKey]], a projection
    * — no shuffle to compute), so the only state is dropDuplicates'
    * per-key entry. Keep-first-FOREVER semantics means that state is
    * deliberately unbounded (one entry per distinct signature ever seen)
    * — a lifetime dedup needs lifetime memory; bound it by keying the
    * upstream with a time bucket if per-epoch dedup is enough.
    * Works identically on batch frames. */
  def nearDupFilter(docs: DataFrame, textCol: String, k: Int = 8): DataFrame =
    docs.withColumn("__sigkey", graft.ops.DedupOps.sigKey(col(textCol), k))
      .dropDuplicates("__sigkey")
      .drop("__sigkey")

  /** CROSS-RUN streaming dedup — the streaming twin of the q91 incremental
    * operator (DedupOps.incrementalDedup): a document passes only if its
    * MinHash signature is absent from the PERSISTED prior-run fingerprint
    * table (`prior` = (sigkey, keep_id) from DedupOps.fingerprintTable)
    * AND first-seen within this stream. The prior side is static, so the
    * prune is a stream-static LEFT ANTI join — per-batch hash lookup
    * against state that lives in parquet between runs, no stream-side
    * state beyond [[nearDupFilter]]'s per-signature key (and the anti join
    * runs FIRST, so signatures already known to history never enter that
    * state). Matches the batch operator's keep set for append-only
    * pipelines with monotone ids (the batch form's undercut case — a new
    * id smaller than a prior keeper — cannot arise there). Works
    * identically on batch frames. */
  def incrementalDedupFilter(docs: DataFrame, textCol: String,
                             prior: DataFrame, k: Int = 8): DataFrame =
    docs.withColumn("__sigkey", graft.ops.DedupOps.sigKey(col(textCol), k))
      .join(prior.select(col("sigkey").as("__sigkey")), Seq("__sigkey"), "left_anti")
      .dropDuplicates("__sigkey")
      .drop("__sigkey")

  /** Streaming eval-set contamination filter: drop documents sharing ANY
    * word `n`-gram with a STATIC held-out set (`probeShingles`). The probe
    * set folds into a Bloom filter at plan time (one batch pass); each
    * streamed document is then a pure projection — shingle + probe inside
    * an `exists` HOF — with NO join and NO state, so it runs at scan speed
    * on an unbounded stream. The Bloom direction is the one a training
    * pipeline needs: contaminated docs are NEVER missed (no false
    * negatives); at most `fpp` of clean docs are dropped spuriously. For
    * the exact decision run the batch q82 semi-join form. Works identically
    * on batch frames (StreamSketchSpec asserts replay equivalence). */
  def contaminationFilter(docs: DataFrame, textCol: String,
                          probeShingles: DataFrame, shingleCol: String,
                          n: Int = 3, fpp: Double = 0.01,
                          keepContaminated: Boolean = false): DataFrame = {
    import graft.ops.{SketchOps, TextOps}
    val sketch = SketchOps.bloomBytes(probeShingles, shingleCol, fpp)
    val hit = exists(TextOps.wordShingles(col(textCol), n),
      sh => SketchOps.bloomProbe(sketch, sh))
    docs.where(if (keepContaminated) hit else !hit)
  }

  /** Streaming LM-quality gate — the stream twin of the batch funnel's
    * `lmScoreFloor` stage (Pipelines.curate): keep documents whose mean
    * log-prob under a FROZEN char-n-gram model clears `scoreFloor`. The
    * model folds into a binary literal at plan time
    * (TextOps.ngramModelBytes — the contamination filter's discipline for
    * artifact tables), so each streamed document is ONE pure projection:
    * no join, no aggregation, ZERO state operators — it runs at scan
    * speed on an unbounded stream and composes freely with the other
    * loops (e.g. ahead of DedupLoop's fold). Scores are bitwise-identical
    * to the batch `ngramScore` lowering (StreamLmSpec), so the gate's
    * keep set replays exactly. Documents with NULL text or fewer than n
    * code points score NULL and are DROPPED (no evidence — the batch
    * funnel's semi join drops them for the same reason);
    * `keepBelow = true` inverts the gate into an audit stream of the
    * rejects (null-scored docs still drop: they fail the gate, but not
    * for being below the floor). Works identically on batch frames. */
  def lmFilter(docs: DataFrame, textCol: String, model: DataFrame,
               scoreFloor: Double, n: Int = 3,
               keepBelow: Boolean = false): DataFrame = {
    import graft.ops.TextOps
    val s = TextOps.lmScore(col(textCol), TextOps.ngramModelBytes(model, n))
    val pass = coalesce(s.getField("score") >= scoreFloor, lit(false))
    val fail = coalesce(s.getField("score") < scoreFloor, lit(false))
    docs.where(if (keepBelow) fail else pass)
  }
}
