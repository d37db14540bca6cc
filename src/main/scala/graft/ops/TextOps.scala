package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column builders for training-data pipelines: tokenization,
  * shingling, language-ID heuristics, quality scoring, token counting and
  * document fingerprinting (SURVEY.md §2.2 q50–q53).
  *
  * Everything here is a pure Column expression — Catalyst HOFs or graft's
  * native Catalyst expressions, no UDFs, no serialization wall — so these
  * stay inside whole-stage codegen'd projections and scale per-row with
  * zero shuffle. The two shingle builders ride native one-byte-walk
  * expressions registered by graft.functions.GraftExtensions
  * (`word_shingles`, `char_shingles`); their HOF spellings stay as the
  * cross-proof twins [[wordShinglesHof]] and [[charShinglesHof]].
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles: `n` consecutive tokens joined by a space, one per
    * start position (at least one shingle even for short docs). Rides the
    * native `word_shingles` expression (graft.functions.WordShingles) —
    * value-identical to [[wordShinglesHof]] (FunctionsSpec proves it; the
    * sf0.01 oracle gate re-proves it per declared query) in one byte walk
    * emitting zero-copy substrings instead of split+slice+concat churn.
    * NULL-text subtlety the HOF pins: `concat_ws` swallows the null
    * `slice`, so the HOF yields `[""]` for null text (NOT null) — a
    * null-text doc must flow through shingle-driven filters, never be
    * silently dropped by a null predicate (NullSafetySpec). The coalesce
    * reproduces that exactly: "" shingles to `[""]` too. */
  def wordShingles(text: Column, n: Int): Column =
    call_function("word_shingles", coalesce(text, lit("")), lit(n))

  /** The declared-SQL HOF lowering of [[wordShingles]] — kept as the
    * cross-proof twin. */
  def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    transform(
      sequence(lit(1), greatest(size(toks) - lit(n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Character n-gram shingles, one per start position (at least one,
    * the whole text, for texts shorter than `n`). Rides the native
    * `char_shingles` expression (graft.functions.CharShingles): one byte
    * walk per row, value-identical to [[charShinglesHof]] (FunctionsSpec
    * proves it), whose every `substr` re-walks the string from its start.
    * Null text yields [NULL] — deliberately NOT coalesced to '': the
    * declared q57 SQL uses bare substr, whose NULL shingles never
    * equi-join, so null-text docs form no near-dup pairs; coalescing here
    * would pair every null/empty doc with Jaccard 1.0 and diverge from the
    * contract (TextOpsEdgeSpec pins the no-pairs behavior). The bare
    * registered function is null-safe (null in, null out); the coalesce
    * restores the HOF's [NULL]. Filters built over char shingles must
    * treat a null hit as no-match. */
  def charShingles(text: Column, n: Int): Column =
    coalesce(call_function("char_shingles", text, lit(n)),
      array(lit(null).cast("string")))

  /** The declared-SQL HOF lowering of [[charShingles]] — kept as the
    * cross-proof twin. */
  def charShinglesHof(text: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(text) - lit(n - 1), lit(1))),
      i => text.substr(i, lit(n)))

  /** Default English stopword list used by the language-ID heuristic. */
  val defaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Count of tokens that are stopwords (as double, for ratio math). */
  def stopwordHits(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    size(filter(tokens(text), w => stopwords.map(w === _).reduce(_ || _)))
      .cast("double")

  /** Token count as double. */
  def tokenCountD(text: Column): Column = size(tokens(text)).cast("double")

  /** Stopword ratio in [0,1] — the language-ID signal. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    stopwordHits(text, stopwords) / tokenCountD(text)

  /** 'en' when the stopword ratio clears `threshold`, else 'und'. */
  def langGuess(text: Column, threshold: Double = 0.04): Column =
    when(stopwordRatio(text) >= threshold, "en").otherwise("und")

  /** Type-token ratio (distinct tokens / tokens) — a lexical-diversity
    * quality signal. */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Average word length (non-space chars / tokens). */
  def avgWordLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / size(tokens(text))

  /** Keep/drop verdict from simple quality thresholds. */
  def qualityVerdict(text: Column, minTokens: Int = 30, minDistinct: Int = 15): Column =
    when(size(tokens(text)) >= minTokens &&
         size(array_distinct(tokens(text))) >= minDistinct, "keep")
      .otherwise("drop")

  /** Within-document repetition: fraction of duplicate word n-grams
    * (1 − distinct/total) — the boilerplate/template quality signal
    * (repeated spans score high; used by C4/Gopher-style cleaning).
    * Pure per-row HOFs, no shuffle. */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val sh = wordShingles(text, n)
    round(lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh), 4)
  }

  /** C4-style line-keep predicate over ONE (already-trimmed) line — the
    * published line filter from the C4 corpus construction (Raffel et
    * al. 2020, §2.2): keep a line only if it (a) ends in a terminal
    * punctuation mark (`.` `!` `?` `"`), (b) has at least `minWords`
    * whitespace-separated words, and (c) does not contain the word
    * "javascript" (the classic leftover of script-soup extraction).
    * Conventions pinned for the cross-engine contract (q179): the word
    * test is a BACKSLASH-FREE boundary class `(^|[^a-z0-9_])` on the
    * lowered line — identical pattern text in Spark and DuckDB, no
    * `\b`/string-escape dialect hazard — and word count splits on
    * space runs. Pure per-row expressions, no shuffle. */
  def c4LineKeep(line: Column, minWords: Int = 3): Column =
    line.rlike("[.!?\"]$") &&
      size(split(line, " +")) >= minWords &&
      !lower(line).rlike("(^|[^a-z0-9_])javascript([^a-z0-9_]|$)")

  /** C4 line cleaning: split `text` on newlines, trim each line, keep
    * the [[c4LineKeep]] survivors, rejoin with newlines. Boilerplate
    * navigation ("Home | About | Contact"), cookie banners, and menu
    * fragments rarely end in terminal punctuation — this one heuristic
    * removes most of them, which is exactly why C4 used it. */
  def c4CleanLines(text: Column, minWords: Int = 3): Column =
    array_join(
      filter(transform(split(text, "\n"), l => trim(l)),
        l => c4LineKeep(l, minWords)),
      "\n")

  /** C4 page-keep predicate: the page-level gates that run AFTER line
    * cleaning — at least `minSentences` sentences in the cleaned text
    * (sentence ≈ terminal-punctuation count, the C4 reading), no
    * "lorem ipsum" placeholder anywhere in the RAW page, and no curly
    * brace in the RAW page (the paper's code-page excluder). Raw-page
    * gates take the raw column because cleaning can delete the very
    * evidence they test for. */
  def c4PageKeep(cleaned: Column, raw: Column, minSentences: Int = 5): Column =
    (size(split(cleaned, "[.!?]")) - 1 >= minSentences) &&
      !lower(raw).contains("lorem ipsum") &&
      !raw.contains("{")

  /** Regex token count: alphabetic runs (both cases — a lowercase-only
    * class would split 'The' into 'he' and undercount mixed-case text). */
  def alphaTokenCount(text: Column): Column = regexp_count(text, lit("[a-zA-Z]+"))

  /** BPE-ish token count: alpha runs, digit runs, or single other chars. */
  def bpeIshTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))

  /** PII redaction classes: (name, regex, replacement token), in the
    * CANONICAL application order — email before ipv4 before phone before
    * bare number runs. The order is semantic, not cosmetic: an email's
    * local part and an IP's octets contain digit runs, so a number-first
    * pass would shred the longer classes into un-matchable fragments.
    * The regexes use only the syntax Java regex and RE2 share (no
    * lookaround, no backrefs), so a DuckDB/Trino twin of the redaction
    * computes the identical result — q161 pins that cross-engine. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("phone", "(\\+[0-9]{1,2}[ -])?[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>"),
    ("number", "[0-9]+", "<NUM>"))

  /** Redact the requested PII `classes` (default: the structured three —
    * bare `number` runs stay, they are q63's separate class) by chained
    * global regex replacement in canonical [[piiPatterns]] order,
    * whatever order the caller lists them in. Pure per-row projection —
    * no shuffle, safe at any scale; null text stays null, empty stays
    * empty. */
  def redactPii(text: Column,
                classes: Seq[String] = Seq("email", "ipv4", "phone")): Column = {
    val known = piiPatterns.map(_._1)
    val bad = classes.filterNot(known.contains)
    require(bad.isEmpty, s"unknown PII class(es) ${bad.mkString(", ")} — " +
      s"known: ${known.mkString(", ")}")
    require(classes.nonEmpty, "no classes — redaction would be the identity")
    piiPatterns.filter(p => classes.contains(p._1)).foldLeft(text) {
      case (acc, (_, pat, tok)) => regexp_replace(acc, pat, tok)
    }
  }

  /** Whole-document fingerprint. */
  def docFingerprint(text: Column): Column = md5(text)

  /** Crawl-URL canonicalization — the URL-level dedup key a crawl
    * pipeline applies BEFORE fetching/content dedup (the same page is
    * crawled under case variants, default ports, tracking params and
    * fragments; canonicalizing first removes whole-fetch duplicates at
    * projection cost, no shuffle). Rules, applied to `scheme://host...`
    * URLs: fragment dropped; scheme and host lowercased; a port equal
    * to the scheme's default (http:80 / https:443) dropped, any other
    * port kept; empty path normalized to `/` (path case preserved —
    * paths are case-sensitive); query parameters split on `&`, empties
    * and `trackingParams` matches (full-param regex against `name` or
    * `name=value`) dropped, survivors byte-order sorted and rejoined,
    * a now-empty query dropped entirely. A URL with no
    * `scheme://`-shaped head canonicalizes to NULL (the q168
    * `try_parse_url` row-degrade convention — count the NULL bucket,
    * never throw on crawl data). Userinfo (`user@host`) and relative
    * path segments (`/a/../b`) are passed through untouched —
    * documented non-goals, rare in crawl frontiers and risky to fold
    * (percent-encoding equivalence would be needed first for `..`
    * folding to be sound). Pure built-in expressions (regex + string +
    * array HOFs): per-row, codegen-adjacent, zero state — q178 pins
    * the whole convention cross-engine.
    *
    * COST HAZARD: this returns a LARGE self-referential expression tree
    * (Column reuse duplicates subtrees symbolically). Used once per
    * projection it is fine (q178, the URL-dedup key); WRAPPING it in
    * further expressions that reference it more than once multiplies
    * the tree past what codegen subexpression elimination amortizes —
    * the round-12 web-graph extraction probe (SURVEY §6) measured
    * 11.7 s vs 0.45 s for a host-extraction projection built this way
    * vs directly. If you only need a PIECE of
    * the canonical form (the host, the scheme), extract that piece from
    * the raw URL with the same fold rules instead (see
    * [[graft.api.Pipelines.linkGraph]]). */
  def canonicalizeUrl(
      url: Column,
      trackingParams: String = "utm_[a-z0-9_]*|gclid|fbclid|msclkid"): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val hostport = regexp_extract(rest, "^([^/?]*)", 1)
    val host = lower(regexp_extract(hostport, "^([^:]*)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val keepPort = port =!= lit("") &&
      !((scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"))
    val pathq = rest.substr(length(hostport) + 1, length(rest))
    val qpos = instr(pathq, "?")
    val path = when(qpos > 0, pathq.substr(lit(1), qpos - 1)).otherwise(pathq)
    val rawq = when(qpos > 0, pathq.substr(qpos + 1, length(pathq))).otherwise(lit(""))
    val normPath = when(path === "", lit("/")).otherwise(path)
    val kept = filter(split(rawq, "&"),
      p => p =!= "" && !p.rlike(s"^($trackingParams)(=.*)?$$"))
    val sortedQ = array_join(array_sort(kept), "&")
    when(scheme === "", lit(null).cast("string")).otherwise(
      concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        normPath,
        when(sortedQ =!= "", concat(lit("?"), sortedQ)).otherwise(lit(""))))
  }

  /** PSL-lite: the common MULTI-PART public suffixes (from the published
    * Mozilla Public Suffix List — the high-traffic ccTLD second-level
    * registries), under which the registrable domain is three labels,
    * not two. Deliberately a bounded static subset: the full PSL is a
    * live external artifact (and includes private suffixes like hosting
    * platforms, a policy choice the caller should make) — pass
    * additions via `registeredDomain`'s `extra` parameter. */
  val multiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "sch.uk",
    "ltd.uk", "plc.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "edu.in", "gov.in",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.mx", "org.mx", "net.mx", "gob.mx", "edu.mx",
    "co.za", "org.za", "net.za", "ac.za", "gov.za", "web.za",
    "com.tr", "org.tr", "net.tr", "gov.tr", "edu.tr",
    "co.kr", "or.kr", "ne.kr", "go.kr", "ac.kr", "re.kr",
    "com.tw", "org.tw", "net.tw", "edu.tw", "gov.tw",
    "com.hk", "org.hk", "net.hk", "edu.hk", "gov.hk",
    "com.sg", "org.sg", "net.sg", "edu.sg", "gov.sg",
    "co.nz", "org.nz", "net.nz", "ac.nz", "govt.nz", "school.nz",
    "com.ar", "org.ar", "net.ar", "edu.ar", "gob.ar",
    "co.id", "or.id", "web.id", "ac.id", "sch.id", "go.id",
    "com.my", "org.my", "net.my", "edu.my", "gov.my",
    "com.ph", "org.ph", "net.ph", "edu.ph", "gov.ph",
    "com.vn", "org.vn", "net.vn", "edu.vn", "gov.vn",
    "com.eg", "org.eg", "net.eg", "edu.eg", "gov.eg",
    "com.sa", "org.sa", "net.sa", "edu.sa", "gov.sa",
    "com.pk", "org.pk", "net.pk", "edu.pk", "gov.pk",
    "co.th", "or.th", "ac.th", "go.th", "in.th",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua",
    "co.il", "org.il", "ac.il", "gov.il", "muni.il", "net.il",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl",
    "com.co", "org.co", "net.co", "edu.co", "gov.co",
    "com.pe", "org.pe", "net.pe", "edu.pe", "gob.pe",
    "com.ve", "org.ve", "net.ve", "co.ve", "gob.ve",
    "com.ec", "org.ec", "net.ec", "edu.ec", "gob.ec",
    "co.ke", "or.ke", "ac.ke", "go.ke", "ne.ke",
    "com.ng", "org.ng", "net.ng", "edu.ng", "gov.ng",
    "co.tz", "or.tz", "ac.tz", "go.tz",
    "com.bd", "org.bd", "net.bd", "edu.bd", "gov.bd",
    "com.np", "org.np", "net.np", "edu.np", "gov.np")

  /** Registrable (apex) domain of a hostname — the unit a crawl
    * pipeline budgets by (per-domain caps, domain-level link graphs):
    * `news.bbc.co.uk` → `bbc.co.uk`, `a.b.example.com` → `example.com`.
    * Three labels when the host ends in a known multi-part public
    * suffix ([[multiPartSuffixes]] ∪ `extra`), else two; a host that IS
    * a suffix, or a single label, returns itself lowercased (the honest
    * degrade — PSL leaves the registrable domain undefined there). Pure
    * regex expressions, suffix alternation folded into ONE anchored
    * pattern literal; NULL host → NULL. The naive 2-label spelling
    * stays the DECLARED portable convention (q164's apex regex) — this
    * op is the production-accuracy form. */
  def registeredDomain(host: Column, extra: Seq[String] = Nil): Column = {
    val alt = (multiPartSuffixes ++ extra.map(_.toLowerCase))
      .map(_.replace(".", "[.]")).mkString("|")
    val h = lower(host)
    val multi = regexp_extract(h, s"([^.]+[.](?:$alt))$$", 1)
    val two = regexp_extract(h, "([^.]+[.][^.]+)$", 1)
    coalesce(nullif(multi, lit("")), nullif(two, lit("")), h)
  }

  /** Shingle-level fingerprint piece: md5 prefix of one shingle (aggregate
    * with min() per doc to get a rolling-hash-style doc signature). */
  def shingleHash(shingle: Column, bytes: Int = 16): Column =
    substring(md5(shingle), 1, bytes)

  /** Single-pass 16-bit SimHash of the text's tokens (native expression —
    * requires a graft session; see graft.functions.SimHash16). */
  def simhash16(text: Column): Column =
    call_function("simhash16", tokens(text))

  /** Single-pass k-permutation MinHash signature (native expression). */
  def minhashSig(text: Column, k: Int): Column =
    call_function("minhash_sig", tokens(text), lit(k))

  /** Train a character n-gram language model over a corpus: one row per
    * observed gram with its corpus log-probability `logp` = ln(count /
    * total). The CCNet/Gopher-style LM quality filter's model half —
    * gibberish scores far below in-distribution text under it
    * ([[ngramScore]]).
    *
    * Scale shape: ONE hash aggregation over the exploded grams (map-side
    * combined — the gram vocabulary, not the corpus, crosses the
    * shuffle) plus a single-row total broadcast back over it. The
    * vocabulary is bounded by charset^n (char trigrams of web text:
    * tens of thousands), so the model table broadcasts at score time
    * regardless of corpus size. `minCount` drops the long tail of
    * hapax grams — noise for scoring, and it keeps the broadcast lean. */
  def ngramModel(docs: DataFrame, text: Column, n: Int = 3,
                 minCount: Long = 2L): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val grams = docs.where(text.isNotNull)
      .select(explode(charShingles(text, n)).as("gram"))
      .where(length(col("gram")) === n)
      .groupBy("gram").agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
    val total = grams.agg(sum(col("c")).as("__total"))
    grams.crossJoin(broadcast(total))
      .select(col("gram"), col("c"),
        log(col("c").cast("double") / col("__total")).as("logp"),
        col("__total").as("total"))
  }

  /** Score each document under an [[ngramModel]]: `score` = mean log
    * probability of the document's grams (higher = more
    * in-distribution), `oov_rate` = fraction of grams absent from the
    * model. Out-of-vocabulary grams take the Laplace-style floor
    * ln(0.5 / total) — below every observed gram, so OOV-heavy
    * gibberish is pushed down rather than silently ignored. Documents
    * shorter than one full gram score NULL (no evidence either way).
    *
    * Scale shape: narrow explode, broadcast hash join against the
    * bounded-vocabulary model, one hash aggregation back to documents —
    * no corpus-sized shuffle anywhere. */
  /** Freeze an [[ngramModel]] artifact into the byte image the
    * `lm_score` expression reads (graft.functions.LmModelCodec): the
    * bounded-vocabulary (gram → logp) table plus the SAME OOV floor
    * [[ngramScore]] uses, collected driver-side — the plan-time fold the
    * Bloom contamination filter already established for artifact tables.
    * `n` must be the width the model was trained with (the model rows
    * carry the grams, not the width). */
  def ngramModelBytes(model: DataFrame, n: Int = 3): Array[Byte] = {
    // ONE collect serves both the vocabulary and the floor: `total` is a
    // column of every model row, and a second action over the
    // un-persisted model would re-run the corpus-wide gram aggregation.
    val rows = model.select(col("gram"), col("logp"), col("total")).collect()
    val tot = math.max(rows.headOption.map(_.getLong(2)).getOrElse(1L), 1L)
    val vocab = rows.map(r => r.getString(0) -> r.getDouble(1)).toSeq
    graft.functions.LmModelCodec.serialize(n, math.log(0.5 / tot.toDouble), vocab)
  }

  /** Column form of the one-pass scorer: `struct(score, oov_rate,
    * n_grams)` per row under a frozen model image, NULL for null/too-short
    * text. Bitwise-equal to [[ngramScore]]'s relational lowering
    * (StreamLmSpec) with no join and no aggregation — the shape the
    * streaming gate needs (zero state) and the cheaper batch path when
    * the model is already frozen. */
  def lmScore(text: Column, modelBytes: Array[Byte]): Column =
    call_function("lm_score", lit(modelBytes), text)

  /** MODEL-BASED language ID — the upgrade from [[langGuess]]'s stopword
    * heuristic: score the text under one frozen char-n-gram model PER
    * LANGUAGE ([[ngramModel]] over a per-language reference corpus,
    * frozen via [[ngramModelBytes]]) and return the argmax language —
    * the classic n-gram LM classifier, per-row, no shuffle. Lowered to
    * the FUSED `lang_classify` native expression: all k models fold into
    * one pack literal and the text is walked ONCE per distinct gram
    * width (the composed k-×-`lm_score` form re-scanned and re-hashed
    * the text per model — measured ~k× the single-gate cost; the
    * composed lowering survives as [[langClassifyComposed]] and
    * TextOpsEdgeSpec pins exact equality). Ties break to the
    * lexicographically larger language name; text too short to score
    * under EVERY model classifies NULL. */
  def langClassify(text: Column, models: Map[String, Array[Byte]]): Column = {
    require(models.nonEmpty, "no language models")
    val pack = graft.functions.LmModelCodec.serializePack(models.toSeq.sortBy(_._1))
    call_function("lang_classify", lit(pack), text)
  }

  /** The composed reference lowering of [[langClassify]] — k independent
    * `lm_score` scans folded through `greatest(struct(score, lang))`.
    * Kept as the semantic oracle for the fused expression (and for
    * sessions where `lang_classify` failed to register): null scores
    * sort lowest so a language that cannot score never wins over one
    * that can; all-null (too-short text) yields NULL. */
  def langClassifyComposed(text: Column, models: Map[String, Array[Byte]]): Column = {
    require(models.nonEmpty, "no language models")
    val scored = models.toSeq.map { case (lang, bytes) =>
      struct(lmScore(text, bytes).getField("score").as("s"), lit(lang).as("l"))
    }
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    when(best.getField("s").isNotNull, best.getField("l"))
  }

  def ngramScore(docs: DataFrame, id: Column, text: Column,
                 model: DataFrame, n: Int = 3): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // The floor is a scalar of the MODEL (an artifact table of bounded
    // vocabulary) — one tiny driver action on it, never on the corpus.
    val floorLogp = {
      val t = model.agg(max(col("total"))).head()
      val tot = if (t.isNullAt(0)) 1L else math.max(t.getLong(0), 1L)
      math.log(0.5 / tot.toDouble)
    }
    docs.where(id.isNotNull && text.isNotNull)
      .select(id.as("doc_id"), explode(charShingles(text, n)).as("gram"))
      .where(length(col("gram")) === n)
      .join(broadcast(model.select(col("gram"), col("logp"))), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        avg(coalesce(col("logp"), lit(floorLogp))).as("score"),
        (sum(when(col("logp").isNull, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("oov_rate"))
      .select(col("doc_id"), col("score"), col("oov_rate"), col("n_grams"))
  }
}
