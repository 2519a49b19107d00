package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import graft.config._
import graft.core._

/** Text-analysis operators for training-data pipelines (extensions; first-
  * class per the build brief). All pure native SQL functions — codegen'd,
  * zero UDFs, embarrassingly parallel (no shuffle at all: every op is a
  * per-row projection, so they pipeline inside one WholeStageCodegen span
  * over the scan at any scale).
  */
object TextFns {
  def tokens(text: Column): Column = Shingles.tokens(text)

  def nChars(text: Column): Column = F.length(text)
  def nWords(text: Column): Column = F.size(tokens(text))
  def avgWordLen(text: Column): Column =
    F.length(F.regexp_replace(text, "\\s+", "")).cast("double") / nWords(text)
  def punctRatio(text: Column): Column =
    F.coalesce(F.regexp_count(text, F.lit("[\\p{Punct}]")).cast("double") / F.length(text), F.lit(0.0))
  def digitRatio(text: Column): Column =
    F.coalesce(F.regexp_count(text, F.lit("[0-9]")).cast("double") / F.length(text), F.lit(0.0))
  def upperRatio(text: Column): Column =
    F.coalesce(F.regexp_count(text, F.lit("[A-Z]")).cast("double") / F.length(text), F.lit(0.0))

  /** whitespace token count */
  def wsTokenCount(text: Column): Column = nWords(text)
  /** BPE-ish subword proxy: word-pieces + punctuation as separate tokens,
    * long words split every 4 chars (a cheap stand-in for a real BPE
    * vocab, deterministic and monotone in text length). */
  def bpeishTokenCount(text: Column): Column =
    F.regexp_count(text, F.lit("[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]")).cast("long")

  /** tiny per-language stopword profiles for the stopword-scoring language
    * heuristic (public common stopwords; enough signal for LID scoring).
    * ORDERED — argmax ties break on declaration order, which the generated
    * oracle SQL mirrors exactly. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for", "on", "with", "as", "this", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "auf", "von", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que", "qui", "des", "du", "pas"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "en", "para", "que", "por", "con", "del"),
    "it" -> Seq("il", "la", "che", "e", "un", "una", "per", "con", "del", "sono", "non", "di", "da"))
  val stopwordMap: Map[String, Seq[String]] = stopwords.toMap

  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val sw = F.array(stopwordMap(lang).map(F.lit): _*)
    F.coalesce(
      F.size(F.filter(tokens(text), t => F.array_contains(sw, t))).cast("double") / nWords(text),
      F.lit(0.0))
  }

  /** argmax language over stopword-profile scores; "und" (undetermined)
    * when no profile matches at all; ties → first language in declaration
    * order.
    *
    * Single-pass UDF (the RepetitionOp pattern): the expression form
    * re-tokenized the text once per language profile through interpreted
    * higher-order filters (5 regex splits + 5×15 array_contains probes
    * per row) and measured ~3× slower at sf0.1. One tokenize, one hash
    * probe per token; label semantics unchanged (gate-pinned). */
  private val langIdUdf: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val langs = stopwords.map(_._1).toArray
    // word → language indexes (profiles overlap: "la" is fr AND es AND it)
    val wordLangs: Map[String, Array[Int]] = stopwords.zipWithIndex
      .flatMap { case ((_, words), i) => words.map(_ -> i) }
      .groupBy(_._1).map { case (w, ls) => w -> ls.map(_._2).toArray }
    F.udf { text: String =>
      if (text == null) "und"
      else {
        val toks = text.toLowerCase.trim.split("\\s+")
        val counts = new Array[Int](langs.length)
        var i = 0
        while (i < toks.length) {
          wordLangs.get(toks(i)) match {
            case Some(ls) =>
              var k = 0
              while (k < ls.length) { counts(ls(k)) += 1; k += 1 }
            case None =>
          }
          i += 1
        }
        var best = 0; var bestLang = -1
        var j = 0
        while (j < counts.length) {
          if (counts(j) > best) { best = counts(j); bestLang = j } // ties → first
          j += 1
        }
        if (best <= 0) "und" else langs(bestLang)
      }
    }
  }
  def langId(text: Column): Column = langIdUdf(text)

  /** composite quality score in [0,1]: balanced length, low punct/digit
    * noise, healthy stopword density (C4/Gopher-style heuristics) */
  def qualityScore(text: Column): Column = {
    val lenScore = F.least(nWords(text).cast("double") / 50.0, F.lit(1.0))
    val punctPenalty = F.greatest(F.lit(0.0), F.lit(1.0) - punctRatio(text) * 4.0)
    val digitPenalty = F.greatest(F.lit(0.0), F.lit(1.0) - digitRatio(text) * 4.0)
    val swScore = F.least(stopwordRatio(text) * 3.0, F.lit(1.0))
    F.round((lenScore * 0.3 + punctPenalty * 0.25 + digitPenalty * 0.25 + swScore * 0.2), 6)
  }

  /** 64-bit document fingerprint: xxhash64 of whitespace/case-normalized
    * text (exact-dup detection robust to formatting) */
  def fingerprint(text: Column): Column =
    F.xxhash64(F.trim(F.regexp_replace(F.lower(text), "\\s+", " ")))

  /** winnowing-style robust fingerprint: minimum k shingle-hashes — equal
    * prefixes of sorted shingle minima catch heavy overlap cheaply */
  def minShingleFingerprint(text: Column, n: Int, k: Int): Column =
    F.slice(F.array_sort(Shingles.shingleHashes(text, n)), 1, k)
}

/** text.stats — length/word/punctuation statistics appended as columns. */
object TextStatsOp extends Stage {
  val name = "text.stats"
  val kind = StageKind.Transform
  def apply(ctx: StageContext): DataFrame = {
    val c = F.col(ctx.cfg.str("column"))
    ctx.primary
      .withColumn("n_chars_calc", TextFns.nChars(c).cast("long"))
      .withColumn("n_words", TextFns.nWords(c).cast("long"))
      .withColumn("avg_word_len", F.round(TextFns.avgWordLen(c), 6))
      .withColumn("punct_ratio", F.round(TextFns.punctRatio(c), 6))
      .withColumn("digit_ratio", F.round(TextFns.digitRatio(c), 6))
  }
}

/** text.langid — stopword-profile language identification. */
object LangIdOp extends Stage {
  val name = "text.langid"
  val kind = StageKind.Transform
  def apply(ctx: StageContext): DataFrame = {
    val c = F.col(ctx.cfg.str("column"))
    val out = ctx.cfg.strOr("output_column", "lang_pred")
    ctx.primary.withColumn(out, TextFns.langId(c))
  }
}

/** text.quality — composite quality score + component signals. */
object QualityScoreOp extends Stage {
  val name = "text.quality"
  val kind = StageKind.Transform
  def apply(ctx: StageContext): DataFrame = {
    val c = F.col(ctx.cfg.str("column"))
    val out = ctx.cfg.strOr("output_column", "quality")
    ctx.primary
      .withColumn("stopword_ratio", F.round(TextFns.stopwordRatio(c), 6))
      .withColumn(out, TextFns.qualityScore(c))
  }
}

/** text.tokens — whitespace + BPE-ish token counts. */
object TokenCountOp extends Stage {
  val name = "text.tokens"
  val kind = StageKind.Transform
  def apply(ctx: StageContext): DataFrame = {
    val c = F.col(ctx.cfg.str("column"))
    ctx.primary
      .withColumn("ws_tokens", TextFns.wsTokenCount(c).cast("long"))
      .withColumn("bpeish_tokens", TextFns.bpeishTokenCount(c))
  }
}

/** text.fingerprint — 64-bit normalized hash + min-shingle sketch. */
object FingerprintOp extends Stage {
  val name = "text.fingerprint"
  val kind = StageKind.Transform
  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val c = F.col(cfg.str("column"))
    val n = TextSigFamily.wordShingleSize.of(cfg).toInt
    val k = cfg.longOr("sketch_size", 8L).toInt
    ctx.primary
      .withColumn("fingerprint", TextFns.fingerprint(c))
      .withColumn("min_shingles", TextFns.minShingleFingerprint(c, n, k))
  }
}

/** text.compressibility — per-document Deflate compression ratio
  * (compressed bytes / raw UTF-8 bytes), the corpus-quality signal used
  * by production cleaning pipelines (e.g. Gopher/MassiveText-style rules
  * pair repetition metrics with compression cut-offs): boilerplate and
  * template spam compress far below natural prose, while random or
  * encoded junk barely compresses at all. Typical keep-band ~0.3–0.9.
  *
  * Config: `column` = "text", `output_column` = "compression_ratio",
  * `level` = 6 (java.util.zip.Deflater 1–9). Null/empty text → null
  * ratio. Single-pass UDF over raw Deflate (nowrap — no zlib header
  * constant skewing short docs), zero shuffle, embarrassingly parallel;
  * rounded to 6 digits. No SQL oracle exists for Deflate output — the
  * gate is rows-only and the bounds/monotonicity are spec-pinned.
  */
object CompressibilityOp extends Stage {
  val name = "text.compressibility"
  val kind = StageKind.Transform
  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val col = cfg.strOr("column", "text")
    val out = cfg.strOr("output_column", "compression_ratio")
    val level = cfg.longOr("level", 6L).toInt
    if (level < 1 || level > 9)
      throw new GraftConfigError(s"text.compressibility: level must be 1..9, got $level")
    val udf = F.udf { (s: String) =>
      if (s == null || s.isEmpty) None
      else {
        val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(level, true)
        try {
          d.setInput(raw); d.finish()
          val buf = new Array[Byte](8192)
          var compressed = 0L
          while (!d.finished()) compressed += d.deflate(buf)
          Some(BigDecimal(compressed.toDouble / raw.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        } finally d.end()
      }
    }
    ctx.primary.withColumn(out, udf(F.col(col)))
  }
}
