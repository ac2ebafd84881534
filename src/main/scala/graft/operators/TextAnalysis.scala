package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline.
  * All pure `Column` expressions (codegen'd, no UDFs) so they survive
  * whole-stage codegen and predicate pushdown at 100 TB scale.
  */
object TextAnalysis {

  /** Whitespace token count; 0 for blank/empty text. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** THE shared word-token definition of the whole text surface
    * (token stats, TF-IDF, entropy, collocations, drift, vocabulary
    * growth, BM25, chunking, packing): maximal runs of Unicode
    * letters — `\p{L}`, not `[A-Za-z]`, so Cyrillic, Greek, Arabic,
    * CJK, and accented-Latin text tokenizes instead of vanishing.
    * Written in the Java-regex ∩ RE2 common subset, so DuckDB oracles
    * run the IDENTICAL pattern ([[tokenSplitRe]] spliced verbatim).
    * Tokens stay case-SENSITIVE: Spark 4's collation-aware `lower()`
    * pays a ~40 s one-time ICU init per JVM, and Unicode case folding
    * is the one place engines disagree (ß, İ) — case-exact tokens are
    * deterministic everywhere. */
  val tokenSplitRe = "[^\\p{L}]+"

  /** Unicode letter runs of `text` with empties dropped — the array
    * form every operator explodes or slices. */
  def wordTokens(text: Column): Column =
    filter(split(text, tokenSplitRe), t => t =!= lit(""))

  // ------------------------------------ opt-in deterministic folding

  /** Opt-in ASCII-range case fold: `A-Z` → `a-z`, every other code
    * point untouched. The IR surface (TF-IDF, BM25, collocations,
    * heavy hitters) is case-SENSITIVE by default (the
    * [[tokenSplitRe]] determinism note: ICU init cost, ß/İ folding
    * divergence) — but "The" ≠ "the" is wrong for retrieval quality,
    * so this is the 90% fix with none of the ICU hazard: a fixed
    * 26-character `translate` map is locale-stable, collation-free
    * (no Spark 4 ICU static init — StringTranslate is a plain
    * codegen'd char map), and replayed bit-identically by DuckDB's
    * `translate` ([[asciiFoldSql]]). Non-ASCII case pairs (É/é, Д/д)
    * intentionally stay distinct — folding them is exactly the
    * engine-divergent part. */
  private val asciiUpper = ('A' to 'Z').mkString
  private val asciiLower = ('a' to 'z').mkString
  def asciiFold(text: Column): Column =
    translate(text, asciiUpper, asciiLower)

  /** DuckDB spelling of [[asciiFold]] over SQL fragment `expr` —
    * generated from the same char ranges so oracle and engine can
    * never drift. */
  def asciiFoldSql(expr: String): String =
    s"translate($expr, '$asciiUpper', '$asciiLower')"

  /** [[asciiFold]] of a driver-side literal (query terms etc.) — the
    * same 26-char map, applied before terms are compared against
    * folded tokens. */
  def asciiFoldStr(s: String): String =
    s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)

  /** The tokenizer device with the fold option: `fold = true` runs
    * [[wordTokens]] over [[asciiFold]]ed text (token BOUNDARIES are
    * unchanged — case is not a letter/non-letter property — so the
    * only difference is token spelling). */
  def wordTokens(text: Column, fold: Boolean): Column =
    if (fold) wordTokens(asciiFold(text)) else wordTokens(text)

  /** [[wordTokens]] with unigram segmentation of Han runs: CJK text
    * has no spaces, so a letter-run tokenizer yields one giant token
    * per clause — the standard IR fallback (used by Lucene's CJK
    * analysis and the CC-pipeline tokenizers) is to treat each Han
    * character as a token. Implemented as a codegen'd regexp pad
    * (space around every `\p{Han}` code point) before the shared
    * `\p{L}` split — one extra scan, no UDF. Kana/Hangul are true
    * alphabets/syllabaries and keep their runs. DuckDB replays the
    * identical semantics with RE2's `(\p{Han})` → `' \1 '`. */
  def cjkAwareTokens(text: Column): Column =
    wordTokens(regexp_replace(text, "(\\p{IsHan})", " $1 "))

  /** [[cjkAwareTokens]] upgraded to the Lucene-CJKAnalyzer-standard
    * OVERLAPPING Han bigrams — the actual IR unit for unsegmented Han
    * text (unigrams inflate document frequency and destroy phrase
    * statistics): a Han run of length L ≥ 2 emits its L−1 overlapping
    * character bigrams, an isolated Han character stays a unigram,
    * and alphabetic scripts (Latin, kana, Hangul, Cyrillic, …) pass
    * through as plain [[wordTokens]]. One regexp pad (space around
    * every Han RUN, so mixed-script tokens split at the script
    * boundary) + the shared `\p{L}` split + a flatten of a per-token
    * slide — all codegen'd builtins, no UDF. DuckDB replays it with
    * RE2 `\p{Han}` + `list_transform(range(...))` + `substr`, both
    * engines counting code points.
    *
    * Deliberate divergence from Lucene's CJKAnalyzer, which bigrams
    * kana and Hangul as well: modern Korean is space-delimited (runs
    * are already word-sized) and Japanese interleaves kana with Han
    * anchors, so whole kana runs keep particles/inflections intact;
    * widening the sliding class to kana is one more script class in
    * the pad regex and the rlike if a corpus needs it. */
  def cjkBigramTokens(text: Column): Column =
    cjkBigramTokensForClass(text, "\\p{IsHan}")

  /** Lucene-CJKBigramFilter-style wide mode: the sliding class is
    * Han ∪ Hiragana ∪ Katakana ∪ Hangul (Lucene bigrams all four by
    * default) PLUS the Script=Common CJK letters that ride inside
    * those runs — 々 U+3005 (Han iteration mark), ー U+30FC
    * (prolonged sound mark: every katakana loanword — データ,
    * コンピューター), ヽヾ U+30FD/30FE and ゝゞ U+309D/309E
    * (kana iteration marks). Without them the pad regex would break
    * データ into three unigrams, while UAX#29 (Lucene's tokenizer)
    * keeps the run together. Not full UAX#29 — a word-boundary
    * tokenizer needs ICU — but the loanword/iteration cases that
    * dominate real Japanese text bigram identically. Use for corpora
    * with unsegmented pure-kana text or Lucene-style CJK term spaces;
    * [[cjkBigramTokens]] (Han-only) is the default because modern
    * Korean is space-delimited and whole kana runs keep Japanese
    * particles/inflections intact. */
  def cjkBigramTokensWide(text: Column): Column =
    cjkBigramTokensForClass(text,
      "\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}" +
        "\\x{3005}\\x{30FC}\\x{30FD}\\x{30FE}\\x{309D}\\x{309E}")

  /** The pad → split → slide pipeline over a configurable sliding
    * script class (a Java-regex character-class body). */
  private def cjkBigramTokensForClass(
      text: Column, classBody: String): Column = {
    val toks = wordTokens(regexp_replace(text, s"([$classBody]+)", " $1 "))
    flatten(transform(toks, t =>
      when(t.rlike(s"^[$classBody]{2,}$$"),
        transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
        .otherwise(array(t))))
  }

  /** Counts of character classes — building blocks for quality scores. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.,!?;:]", "")).cast("long")

  def digitCount(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", "")).cast("long")

  def upperCount(text: Column): Column =
    length(regexp_replace(text, "[^\\p{Lu}]", "")).cast("long")

  /** Unicode letter count (`\p{L}` — the [[tokenSplitRe]] class). */
  def alphaCount(text: Column): Column =
    length(regexp_replace(text, "[^\\p{L}]", "")).cast("long")

  /** Occurrences of a whole word (case-insensitive via `(?i)` — NOT
    * `lower()`: Spark 4's collation-aware `lower` triggers a one-time
    * ~40s ICU static init per JVM, and Java regex case folding avoids
    * that entirely while matching ASCII semantics). */
  def wordOccurrences(text: Column, word: String): Column =
    size(regexp_extract_all(text, lit("(?i)\\b" + word + "\\b"), lit(0)))
      .cast("long")

  /** Quality-score components per document: length, token count,
    * punctuation/digit/alpha counts, mean token length. */
  def qualityStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars_calc", length(t).cast("long"))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_punct", punctCount(t))
      .withColumn("n_digit", digitCount(t))
      .withColumn("n_alpha", alphaCount(t))
  }

  /** Language-ID heuristic: score per language = total hits of that
    * language's marker stopwords. At scale this is a narrow map — no
    * shuffle; the classifier itself is a `greatest`-of-scores argmax. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  def langScore(text: Column, lang: String): Column =
    langMarkers(lang).map(w => wordOccurrences(text, w)).reduce(_ + _)

  /** deterministic lang order for argmax tie-breaking (first wins) */
  val langsOrdered: Seq[String] = langMarkers.keys.toSeq.sorted

  /** Argmax language classifier: the first language (in [[langsOrdered]])
    * whose marker score equals the max. Pure Column expression, shaped
    * as `array_max` over (score, −index, lang) structs so every score
    * expression is evaluated exactly ONCE per row (the CASE-chain form
    * embeds each score in `greatest` plus every branch); struct ordering
    * is lexicographic, so the max is (highest score, lowest index) —
    * identical first-wins tie semantics. */
  def detectLang(text: Column): Column = {
    val entries = langsOrdered.zipWithIndex.map { case (l, i) =>
      struct(langScore(text, l).as("s"), lit(-i).as("ni"), lit(l).as("lang"))
    }
    array_max(array(entries: _*)).getField("lang")
  }

  /** DuckDB SQL equivalent of [[detectLang]] over column `text` —
    * generated from the SAME marker map so the oracle can never drift
    * from the implementation. */
  def detectLangSql: String = {
    def scoreSql(lang: String): String =
      langMarkers(lang)
        .map(w => s"len(regexp_extract_all(text, '\\b$w\\b', 0, 'i'))")
        .mkString(" + ")
    val scores = langsOrdered.map(l => s"(${scoreSql(l)})")
    val g = s"greatest(${scores.mkString(", ")})"
    val whens = langsOrdered.zip(scores)
      .map { case (l, s) => s"WHEN $s = $g THEN '$l'" }
      .mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  // ------------------------- char-n-gram Naive Bayes language ID
  // The trainable upgrade of the marker heuristic above (q12/q25/q176
  // keep the marker form as the oracle-friendly twin): multinomial
  // Naive Bayes over character n-grams — the standard public
  // language-ID technique (Cavnar & Trenkle 1994 n-gram profiles;
  // NB formulation as in any IR textbook). All arithmetic is the
  // repo's exact-replay discipline: integer gram counts, one
  // Laplace-smoothed double division per term, ln rounded to 12 dp,
  // DECIMAL(38,12) summed — so a DuckDB oracle replays the classifier
  // bit-for-bit.

  /** Character n-grams of `text` at every position (1..len−n+1);
    * empty array when the text is shorter than `n`; null for null.
    * Code-point based in both Spark and DuckDB (`substr`), so CJK
    * text grams correctly. */
  def charNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graftshim.column(
      graft.functions.GraftCharNgrams(
        org.apache.spark.sql.graftshim.expression(text),
        org.apache.spark.sql.graftshim.expression(lit(n))))

  /** One-pass n-gram kernel behind [[charNgrams]]'s
    * `graft_char_ngrams` expression: code-point offsets computed once,
    * each gram a zero-copy byte slice. The `transform(sequence(...),
    * i => substr(i, n))` form it replaces re-scanned the string from
    * byte 0 at every position (UTF8String.substringSQL is O(pos) for
    * non-ASCII) — O(len²) per document, measured 2.7 s per corpus
    * explode at sf0.1 vs 0.4 s for this kernel. Gram VALUES are
    * identical: both are the n-code-point substrings at positions
    * 1..len−n+1 (empty array when the text is shorter than n). */
  def charNgramsKernel(s: org.apache.spark.unsafe.types.UTF8String,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val numChars = s.numChars()
    val cnt = numChars - (n - 1)
    if (cnt < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val bytes = s.getBytes
    val offsets = new Array[Int](numChars + 1)
    var i = 0
    var c = 0
    while (i < bytes.length && c < numChars) {
      offsets(c) = i
      c += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offsets(numChars) = bytes.length
    val out = new Array[Any](cnt)
    var j = 0
    while (j < cnt) {
      out(j) = UTF8String.fromBytes(
        bytes, offsets(j), offsets(j + n) - offsets(j))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fit the model: per-(lang, gram) occurrence counts over a labeled
    * training corpus — the fit/apply artifact shape (q139 scaler
    * precedent); gram-vocabulary sized (bounded by charset², not by
    * corpus), so the apply side can always broadcast it. */
  def charNgramLangModel(
      train: DataFrame, langCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    train.select(col(langCol).as("lang"),
        explode(charNgrams(col(textCol), n)).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("c"))
  }

  /** Classify `docs` with a fitted [[charNgramLangModel]]:
    * score(doc, lang) = Σ over gram occurrences of
    * round(ln((c+1)/(n_lang+V)), 12) as an exact DECIMAL sum
    * (Laplace smoothing, V = distinct training grams; uniform priors
    * — train with balanced classes). Argmax by (score desc, lang asc).
    * Docs with no grams (text shorter than n) emit no row.
    *
    * Scale posture: the model, per-lang totals, and V are all
    * vocabulary-sized broadcasts; scoring is map-side joins over the
    * exploded gram stream + ONE (doc, lang) hash aggregate; the
    * argmax window is keyed by doc — nothing corpus-global. */
  def charNgramDetect(
      model: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val dec18 = org.apache.spark.sql.types.DecimalType(18, 12)
    // The model is consumed THREE times (per-lang totals, vocabulary
    // size, and the term-table join) — persist the vocabulary-bounded
    // counter table (LAZY: no job at plan-construction time, lineage
    // intact so an executor loss recomputes instead of failing; the
    // broadcast-exchange jobs populate the cache on first use). An
    // eager localCheckpoint was tried and rejected on both counts.
    // Generation-tracked (the handle outlives this call inside the
    // returned plan): the next charNgramDetect call or
    // CachePool.releaseAll frees it — one model cache pinned per
    // session, not one per classify call.
    val m = graft.CachePool.swap("textanalysis.charngram.model",
      model.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nl = m.groupBy("lang").agg(sum("c").as("n_lang"))
    val v = m.agg(count_distinct(col("g")).as("v"))
    // The Laplace term depends ONLY on (gram, lang) — compute it once
    // per MODEL row (the fitted vocabulary, broadcast-safe by the
    // model contract) instead of once per gram OCCURRENCE × lang
    // (corpus-sized × langs: q186 measured the per-occurrence form at
    // ~3× this one — 7.4M log+round+BigDecimal rows vs the model's
    // 2850). Out-of-vocabulary grams take the per-LANG smoothing term
    // t_oov = round(ln(1/(n_lang+V)), 12) via coalesce — identical to
    // the old left-join's coalesce(c,0)+1 = 1 branch, and the term
    // tables stay MODEL-sized even when the classified corpus's gram
    // vocabulary is far larger (noisy scrapes; nothing docs-sized is
    // ever broadcast). Scores are bit-identical to the
    // per-occurrence sum: summing k occurrences of one 12-dp DECIMAL
    // term ≡ term × k exactly (integer multiple, exact decimal
    // arithmetic — DECIMAL(18,12) term × DECIMAL(12,0) count stays at
    // precision 31 ≤ 38, no scale adjustment).
    val terms = m.join(broadcast(nl), "lang").crossJoin(broadcast(v))
      .select(col("lang"), col("g"),
        round(log((col("c") + lit(1)).cast("double") /
          (col("n_lang") + col("v")).cast("double")), 12)
          .cast(dec18).as("t"))
    val langTerms = nl.crossJoin(broadcast(v))
      .select(col("lang"),
        round(log(lit(1.0) /
          (col("n_lang") + col("v")).cast("double")), 12)
          .cast(dec18).as("t_oov"))
    val cells = docs
      .select(col(idCol), explode(charNgrams(col(textCol), n)).as("g"))
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).cast(
        org.apache.spark.sql.types.DecimalType(12, 0)).as("n_dg"))
    val scored = cells
      .crossJoin(broadcast(langTerms))
      .join(broadcast(terms), Seq("lang", "g"), "left")
      .groupBy(col(idCol), col("lang"))
      .agg(sum((coalesce(col("t"), col("t_oov")) * col("n_dg"))
        .cast(dec)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(desc("score"), asc("lang"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(idCol), col("lang").as("detected"))
  }

  // ------------------- persisted language-model artifact (NB counts)
  // The build-once/append/probe lifecycle (histogram q175, CountMin
  // q178, MinHash bands q87/q145, graph q130, scaler q139) applied to
  // the [[charNgramLangModel]]: each version holds the gram counts at
  // `model` plus a one-row `n` meta, published through the
  // versioned-pointer device ([[graft.sources.Artifacts]]) so
  // classification can run concurrently with retraining. Counts are
  // integer sums, so folding a new labeled batch in
  // ([[appendToLangModel]]) produces EXACTLY the model fit on the
  // concatenated corpus — a 100-TB labeled feed trains incrementally,
  // never re-scanning, and classification reads only the
  // vocabulary-bounded counter table.

  /** Persist a fitted [[charNgramLangModel]] with its gram size. */
  def writeLangModel(model: DataFrame, n: Int, path: String): Unit = {
    val spark = model.sparkSession
    import spark.implicits._
    graft.sources.Artifacts.publishVersion(spark, path) { vdir =>
      model.write.mode("overwrite").parquet(s"$vdir/model")
      Seq(n).toDF("n")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")
    }
  }

  /** Fold a labeled batch into a persisted model: per-(lang, gram)
    * count sums published as the next version (the old version stays
    * live until the pointer moves — concurrent classification is
    * safe). Append ≡ rebuild bitwise — TextAnalysisSpec proves it. */
  def appendToLangModel(
      spark: org.apache.spark.sql.SparkSession, path: String,
      train: DataFrame, langCol: String, textCol: String): Unit = {
    val cur = graft.sources.Artifacts.latestDir(spark, path,
      "language-model artifact")
    val n = spark.read.parquet(s"$cur/meta").head().getInt(0)
    val merged = spark.read.parquet(s"$cur/model")
      .unionByName(charNgramLangModel(train, langCol, textCol, n))
      .groupBy("lang", "g").agg(sum(col("c")).as("c"))
    import spark.implicits._
    graft.sources.Artifacts.publishVersion(spark, path) { vdir =>
      merged.write.mode("overwrite").parquet(s"$vdir/model")
      Seq(n).toDF("n")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")
    }
  }

  /** Classify with a persisted model — [[charNgramDetect]] against the
    * stored counts, gram size from the artifact meta (the caller
    * cannot mismatch it). Resolves ONE version for both reads, so a
    * concurrent append cannot split the probe. */
  def charNgramDetectPersisted(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val vdir = graft.sources.Artifacts.latestDir(spark, path,
      "language-model artifact")
    val n = spark.read.parquet(s"$vdir/meta").head().getInt(0)
    charNgramDetect(spark.read.parquet(s"$vdir/model"),
      docs, idCol, textCol, n)
  }

  // --------------------------------------- Unicode script profiling

  /** (name, Java regex class, RE2/DuckDB regex class) per script —
    * the same Unicode Script property, two spellings. Alphabetical,
    * so the dominant-script tie-break is stable. */
  val scriptClasses: Seq[(String, String, String)] = Seq(
    ("arabic", "\\p{IsArabic}", "\\p{Arabic}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("devanagari", "\\p{IsDevanagari}", "\\p{Devanagari}"),
    ("greek", "\\p{IsGreek}", "\\p{Greek}"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("hangul", "\\p{IsHangul}", "\\p{Hangul}"),
    ("hebrew", "\\p{IsHebrew}", "\\p{Hebrew}"),
    ("hiragana", "\\p{IsHiragana}", "\\p{Hiragana}"),
    ("katakana", "\\p{IsKatakana}", "\\p{Katakana}"),
    ("latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("thai", "\\p{IsThai}", "\\p{Thai}"))

  /** Per-document Unicode script histogram: total letter count
    * (`\p{L}`), per-script letter counts (Unicode Script property —
    * [[scriptClasses]]), and the dominant script (most letters,
    * alphabetically-first on ties; `und` for letterless docs). The
    * router a multilingual corpus needs BEFORE language ID: script is
    * deterministic per code point (no model), and most script buckets
    * map to disjoint language families. Pure codegen'd regexp counts —
    * one scan, zero shuffles, zero UDFs. */
  def scriptProfile(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = scriptClasses.map { case (name, javaRe, _) =>
      length(regexp_replace(col(textCol), s"[^$javaRe]", ""))
        .cast("long").as(s"n_$name")
    }
    val withCounts = docs.select(
      (col(idCol) +: alphaCount(col(textCol)).as("n_letters") +:
        counts): _*)
    // argmax by min-struct: smallest (−count, name) = largest count,
    // alphabetically-first name on ties
    val best = array_min(array(scriptClasses.map { case (name, _, _) =>
      struct((-col(s"n_$name")).as("neg"), lit(name).as("s"))
    }: _*))
    withCounts.withColumn("dominant",
      when(col("n_letters") === 0, lit("und"))
        // letters exist but none in a profiled script (all-zero max)
        .when(best.getField("neg") === 0, lit("other"))
        .otherwise(best.getField("s")))
  }

  /** Rolling polynomial fingerprint of the full text (deterministic
    * 64-bit document hash) — document-level fingerprinting primitive.
    * Uses Spark's xxhash64 (codegen'd, stable across runs/clusters) —
    * the scale path: an 8-byte key through every downstream shuffle. */
  def fingerprint(text: Column): Column = xxhash64(text)

  /** Cross-engine-verifiable fingerprint twin: MD5 hex digest, identical
    * in any engine (DuckDB `md5()` ≡ Spark `md5()`), at 32 bytes/key.
    * Exists so the fingerprinting operator has a hash-exact oracle;
    * [[fingerprint]] remains the production form. */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** PII patterns, written in the Java-regex ∩ RE2 common subset (no
    * lookaround, ASCII word boundaries) so the DuckDB oracle can run
    * the IDENTICAL patterns. Email is the practical RFC-lite form;
    * phone matches NANP-style ddd-dddd blocks. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Scrub emails and phone-shaped numbers from text — the redaction
    * pass every compliant training-data pipeline runs before a corpus
    * leaves quarantine. Pure codegen'd `regexp_replace` chain: no UDF,
    * no shuffle, safe inside whole-stage codegen at any scale. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Number of PII spans [[redactPii]] would scrub (audit metric).
    * Phones are counted on the email-redacted text, exactly as
    * [[redactPii]]'s second pass sees it — counting both patterns on
    * the raw text would double-count a phone-shaped block inside an
    * email local part (one replacement, two matches). */
  def piiCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(emailRe), lit(0))) +
      size(regexp_extract_all(
        regexp_replace(text, emailRe, "<EMAIL>"),
        lit(phoneRe), lit(0)))).cast("long")

  /** Control characters (C0 + DEL), as an explicit class — the
    * Java-regex ∩ RE2 common subset again, so the DuckDB oracle runs
    * the IDENTICAL pattern. */
  val controlRe = "[\\x00-\\x1F\\x7F]"

  // ------------------------------- encoding-damage (mojibake) audit

  /** The three standard signatures of a mangled decode, each in the
    * Java ∩ RE2 subset (oracle runs the identical patterns):
    *   - U+FFFD REPLACEMENT CHARACTER — a decoder already gave up;
    *   - C1 controls U+0080-U+009F — CP-1252 bytes decoded as
    *     Latin-1 — EXCEPT U+0085 (NEL), which occurs legitimately as
    *     a newline in text converted from EBCDIC/ISO-mainframe
    *     sources and in some XML pipelines, so flagging it would mark
    *     clean documents damaged;
    *   - UTF-8-read-as-Latin-1 digraphs — an é stored as UTF-8 and
    *     decoded as Latin-1 becomes "Ã©" (lead byte 0xC3 → Ã followed
    *     by a Latin-1-supplement char), and the smart-quote range
    *     becomes "â€¦"-style triples (lead 0xE2 → â€). */
  val replacementRe = "\\x{FFFD}"
  val c1ControlRe = "[\\x{0080}-\\x{0084}\\x{0086}-\\x{009F}]"
  val doubleEncodeRe = "Ã[\\x{00A0}-\\x{00FF}]|â€|Â[\\x{00A0}-\\x{00BF}]"

  /** Per-document encoding-damage audit: counts of the three mojibake
    * signatures plus a clean flag — the gate a scraped corpus passes
    * BEFORE normalization and dedup (damaged text hashes differently
    * from its clean twin, silently defeating dedup; and mojibake is a
    * quality signal in its own right). Pure codegen'd regexp counts,
    * one scan, zero shuffles, zero UDFs — the scriptProfile posture.
    * A null text audits as zero counts / clean (coalesced — the flag
    * is always a concrete boolean, never a null verdict). */
  def encodingQuality(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(re: String): Column =
      coalesce(size(regexp_extract_all(t, lit(re), lit(0))).cast("long"),
        lit(0L))
    docs.select(col(idCol),
      cnt(replacementRe).as("n_replacement"),
      cnt(c1ControlRe).as("n_c1_control"),
      cnt(doubleEncodeRe).as("n_double_encoded"))
      .withColumn("clean",
        col("n_replacement") + col("n_c1_control") +
          col("n_double_encoded") === 0)
  }

  /** Unicode-correct normalization, the first pass a scraped corpus
    * gets: control characters → space, whitespace runs collapsed to
    * one space, trimmed, then NFC composition (é as one codepoint, not
    * e + combining acute — byte-identical text for downstream hashing
    * and dedup regardless of how the source encoded it). The regex
    * steps are codegen'd Columns; NFC is the one step Spark has no
    * built-in for — the [[graft.functions.GraftNfc]] codegen
    * expression over [[nfcNormalize]], O(len) per row, map-side, no
    * shuffle, no ScalaUDF boundary (the whole normalize pipeline is
    * one codegen span). Oracle twin: DuckDB `nfc_normalize`. */
  def normalizeText(text: Column): Column =
    graft.functions.TextKernelFunctions.nfcCol(trim(regexp_replace(
      regexp_replace(text, controlRe, " "), "\\s+", " ")))

  /** NFC composition kernel behind [[graft.functions.GraftNfc]] —
    * `java.text.Normalizer` fast-paths already-composed ASCII/NFC
    * text, so the common case is a scan, not a rewrite. Kept here (an
    * object with no companion class) so the codegen'd Java reaches it
    * through a static forwarder. */
  def nfcNormalize(s: String): String =
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  /** BPE-ish token estimate: a token is a maximal run of
    * non-space/non-punctuation characters, or a single punctuation
    * mark — approximating subword segmentation cheaply. Expressed as a
    * match count (not a lookaround split) so it is portable to RE2
    * engines (DuckDB oracle parity). */
  def tokenCountBpeIsh(text: Column): Column =
    size(regexp_extract_all(text, lit("[^\\s.,!?;:]+|[.,!?;:]"), lit(0)))
      .cast("long")

  /** Corpus bigram collocations ranked by pointwise mutual
    * information — the phrase-mining pass of a corpus-statistics
    * pipeline (multi-word expressions, domain vocabulary).
    *
    * `pmi(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) )` with bigram
    * probability over the corpus bigram total and unigram
    * probabilities over the token total.
    *
    * Scale posture: bigrams come straight off the token array
    * (adjacent-slice zip — no per-document window, no shuffle to line
    * up positions); unigram and bigram counts are partial/final
    * hash aggregates; the `minCount` floor is applied to the bigram
    * counts BEFORE the two vocabulary joins, so the long tail
    * (most of Zipf's mass) never enters a join; the final top-k is a
    * per-partition heap. Totals are one extra scan-level aggregate.
    *
    * Determinism: counts are exact longs; the PMI expression is
    * written with one fixed association of exact-in-double products
    * (counts ≪ 2⁵³), rounded to 9 dp — bit-identical cross-engine.
    */
  def collocations(
      docs: DataFrame,
      textCol: String = "text",
      minCount: Long = 5,
      topK: Int = 20,
      fold: Boolean = false): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK > 0, s"topK must be positive, got $topK")
    val toksArr = docs.select(wordTokens(col(textCol), fold).as("a"))
    val tok = toksArr.select(explode(col("a")).as("term"))
    val cu = tok.groupBy("term").agg(count(lit(1)).as("c"))

    val nBi = greatest(size(col("a")) - 1, lit(0))
    // an empty corpus sums to nulls -> zero totals; cb is then empty
    // and the operator returns zero rows instead of throwing
    val totals = toksArr.agg(
      sum(size(col("a"))).as("nu"), sum(nBi).as("nb")).head()
    val nu = Option(totals.get(0)).fold(0L)(_.asInstanceOf[Long]).toDouble
    val nb = Option(totals.get(1)).fold(0L)(_.asInstanceOf[Long]).toDouble

    val bi = toksArr
      .select(slice(col("a"), lit(1), nBi).as("w1s"),
        slice(col("a"), lit(2), nBi).as("w2s"))
      .select(explode(arrays_zip(col("w1s"), col("w2s"))).as("p"))
      .select(col("p.w1s").as("w1"), col("p.w2s").as("w2"))
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .where(col("cxy") >= minCount)

    val pmi =
      log(((col("cxy").cast("double") * lit(nu)) * lit(nu)) /
        ((lit(nb) * col("cx").cast("double")) * col("cy").cast("double")))
    cb.join(cu.withColumnRenamed("term", "w1")
          .withColumnRenamed("c", "cx"), "w1")
      .join(cu.withColumnRenamed("term", "w2")
          .withColumnRenamed("c", "cy"), "w2")
      .select(col("w1"), col("w2"), col("cxy").as("pair_count"),
        round(pmi, 9).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(topK)
  }

  /** Token-distribution drift between two corpora: the per-token
    * Jensen-Shannon contribution ½·p·ln(p/m) + ½·q·ln(q/m) with
    * m = (p+q)/2 and the 0·ln0 = 0 convention — symmetric, bounded,
    * and defined where one side's probability is zero (where raw KL
    * diverges). The drift monitor a corpus-mix pipeline runs between
    * snapshots or sources before retraining; top-`topK` contributors
    * name WHAT drifted, their sum is the JSD. Per-token output is
    * rounded once to 12 dp (single-rounding exactness — no summation
    * device needed). Scale: two token-count aggregates, one full-outer
    * join on token, totals as one-row cross joins — nothing driver
    * resident but the two totals. */
  def distributionDrift(
      a: DataFrame,
      b: DataFrame,
      textCol: String = "text",
      topK: Int = 20): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    def counts(df: DataFrame): DataFrame = df
      .select(explode(wordTokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val ca = counts(a).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = counts(b).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one bounded row each (the collocations precedent); an empty
    // cohort has no distribution to compare against
    val na = Option(ca.agg(sum("c")).head().get(0)).fold(0L)(_.asInstanceOf[Long])
    val nb = Option(cb.agg(sum("c")).head().get(0)).fold(0L)(_.asInstanceOf[Long])
    require(na > 0 && nb > 0,
      s"both corpora must tokenize non-empty (got $na and $nb tokens)")
    val p = col("cnt_a").cast("double") / lit(na.toDouble)
    val q = col("cnt_b").cast("double") / lit(nb.toDouble)
    def half(prob: Column, cnt: Column): Column =
      when(cnt === 0, lit(0.0))
        .otherwise(prob * log(prob / ((p + q) / lit(2.0)))) * lit(0.5)
    val drift = ca.withColumnRenamed("c", "cnt_a")
      .join(cb.withColumnRenamed("c", "cnt_b"), Seq("tok"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .select(col("tok"), col("cnt_a"), col("cnt_b"),
        round(half(p, col("cnt_a")) + half(q, col("cnt_b")), 12)
          .as("jsd_term"))
      .orderBy(desc("jsd_term"), col("tok"))
      .limit(topK)
      .localCheckpoint(eager = true)
    ca.unpersist(blocking = false)
    cb.unpersist(blocking = false)
    drift.orderBy(desc("jsd_term"), col("tok"))
  }

  /** Vocabulary growth curve over ingestion batches (`batch` =
    * ⌊id/batchSize⌋): per batch, token occurrences, distinct tokens,
    * and NEW tokens (whose corpus-first batch is this one) — the
    * saturation signal that tells a crawl when marginal data stops
    * buying vocabulary. All integer-exact. Two aggregates over the
    * (batch, token) cell table + a broadcast-size first-batch join;
    * the raw token stream shuffles once. */
  def vocabularyGrowth(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      batchSize: Long): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val cells = docs
      .select(floor(col(idCol) / lit(batchSize.toDouble)).cast("long")
          .as("batch"),
        explode(wordTokens(col(textCol))).as("tok"))
      .groupBy("batch", "tok").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = cells.groupBy("tok").agg(min("batch").as("fb"))
    val out = cells.join(first, "tok")
      .groupBy("batch")
      .agg(sum("c").as("n_occurrences"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("fb") === col("batch"), 1L).otherwise(0L))
          .as("n_new"))
      .orderBy("batch")
      .localCheckpoint(eager = true)
    cells.unpersist(blocking = false)
    out.orderBy("batch")
  }

  /** Per-document token (Shannon) entropy in nats — the
    * gibberish/boilerplate discriminator next to [[qualityStats]]:
    * repeated-template docs score near 0, natural text near ln of its
    * distinct-token count. H = −Σ p·ln p from exact counts; per-term
    * 12-dp round + DECIMAL sum (the mutual-information device), so
    * the per-doc scalar is engine-replayable. One (doc, token)
    * aggregate; nothing corpus-wide. `tokenizer` routes the token
    * definition (default the shared [[wordTokens]]; pass
    * [[cjkBigramTokens]] for corpora with unsegmented Han text —
    * under plain `wordTokens` a Han document is one giant token per
    * clause and its entropy collapses to 0). */
  def tokenEntropy(
      docs: DataFrame, idCol: String, textCol: String,
      tokenizer: Column => Column = wordTokens): DataFrame = {
    val cells = docs
      .select(col(idCol),
        explode(tokenizer(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
    val totals = cells.groupBy(idCol)
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"))
    val p = col("c").cast("double") / col("n").cast("double")
    cells.join(totals, idCol)
      .select(col(idCol), col("n"), col("n_distinct"),
        round(p * log(p), 12)
          .cast(org.apache.spark.sql.types.DecimalType(38, 12)).as("t"))
      .groupBy(idCol)
      .agg(first(col("n")).as("n_tokens"),
        first(col("n_distinct")).as("n_distinct"),
        // 0.0 − x, not −x: a zero sum must come out +0.0 (the oracle
        // compares floats bitwise, and −0.0 would depend on engine
        // negation quirks)
        (lit(0.0) - sum(col("t")).cast("double")).as("entropy"))
      .orderBy(idCol)
  }
}
