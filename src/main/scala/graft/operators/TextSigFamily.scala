package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import graft.config.{Cfg, GraftConfigError}
import graft.core.{DriverParquet, StageContext}

/** One signature parameter of an index: its config key, its default,
  * whether `meta/` stores it as INT64 (`wide`) or INT32, and its `meta/`
  * field name (the config key unless given). */
private[graft] final case class SigParam(key: String, default: Long, wide: Boolean = false,
    field: Option[String] = None) {
  def metaField: String = field.getOrElse(key)
  def of(cfg: Cfg): Long = cfg.longOr(key, default)
  private[operators] def metaCol(v: Long): DriverParquet.Col =
    if (wide) DriverParquet.I64(metaField, Seq(v)) else DriverParquet.I32(metaField, Seq(v.toInt))
  private[operators] def fromMeta(meta: Row): Long =
    if (wide) meta.getAs[Long](metaField) else meta.getAs[Int](metaField).toLong
}

/** A family's parameter values, in its `meta/` column order. */
private[graft] final case class SigParams(values: Seq[(SigParam, Long)]) {
  def apply(q: SigParam): Long = values.collectFirst { case (`q`, v) => v }.get
  def int(q: SigParam): Int = apply(q).toInt
  def updated(q: SigParam, v: Long): SigParams =
    SigParams(values.map { case (k, old) => k -> (if (k == q) v else old) })
}

/** Everything that differs between the text near-dup families: featurizer
  * and signature ((id, _txt) rows → corpus rows), corpus schema, self-pairs
  * (id_a < id_b) and scored cross-pairs, signature parameters and `meta/`
  * layout. [[NearDup]] runs every mode from this value alone (through
  * [[TextBlocking]]); this module is the only code that knows the
  * text-index meta format. */
private[graft] sealed abstract class TextSigFamily(val name: String) extends IndexKind {
  /** signature parameters, in `meta/` column order */
  def params: Seq[SigParam]
  /** the `meta/` field whose presence marks an index of this family */
  def marker: String
  def indexType: String = name
  def marks(fields: Set[String]): Boolean = fields.contains(marker)
  def partitionCols: Seq[String] = Nil
  override def recorded(meta: Row): SigParams = fromMeta(meta)
  def family: IndexCatalog.Expected[IndexKind] = IndexCatalog.Text(this)
  /** `index.build type=<family>` — hash every document once (the
    * CPU-heavy step) into the narrow corpus rows under `corpus/`, with the
    * signature parameters under `meta/` so probes regenerate identical
    * signatures. Indexes ALL input rows: a future batch must match
    * documents that were themselves duplicates, exactly as a full-corpus
    * pairwise pass would. LSH bands derive from the signature at probe
    * time instead of being stored ×bands. mode=append must extend the
    * EXISTING signature space: the catalog rejects another kind's index,
    * and other parameters fail loud here, before anything is written. */
  def build(ctx: StageContext, op: String, path: String, mode: String,
      existing: Option[IndexCatalog.Opened[IndexKind]]): Unit = {
    val cfg = ctx.cfg
    val p = configured(op, cfg)
    existing.foreach(_.requireParams(p))
    signatures(Parallelize(ctx).select(F.col(cfg.strOr("id_column", "doc_id")).alias("id"),
      F.col(cfg.strOr("text_column", "text")).alias("_txt")), p)
      .write.mode(mode).parquet(IndexSnapshot.corpusDir(path))
    // one-row table the driver already holds — write it driver-side
    // (DriverParquet) instead of scheduling a Spark job for it
    DriverParquet.overwrite(s"$path/meta", metaCols(p))
  }
  def metaCols(p: SigParams): Seq[DriverParquet.Col] = p.values.map { case (q, v) => q.metaCol(v) }
  def fromConfig(cfg: Cfg): SigParams = SigParams(params.map(q => q -> q.of(cfg)))
  def fromMeta(meta: Row): SigParams = SigParams(params.map(q => q -> q.fromMeta(meta)))
  /** a parameter combination the signature cannot honour */
  def problem(p: SigParams): Option[String] = None
  /** the configured parameters, checked; a problem fails `op` */
  def configured(op: String, cfg: Cfg): SigParams = {
    val p = fromConfig(cfg)
    problem(p).foreach(m => throw new GraftConfigError(s"$op: $m"))
    p
  }
  def corpusSchema(idType: DataType): StructType
  def signatures(rows: DataFrame, p: SigParams): DataFrame
  /** the score column of [[pairs]] */
  def score: String
  /** verified (id_<a>, id_<b>, score) pairs of signature rows `left` and
    * `right`; `self` pairs a frame with itself, keeping id_a < id_b */
  def pairs(left: DataFrame, right: DataFrame, a: String, b: String, self: Boolean,
      p: SigParams, cfg: Cfg): DataFrame
  /** the `batch` ids that near-match the `index` rows */
  def crossDropped(batch: DataFrame, index: DataFrame, p: SigParams, cfg: Cfg): DataFrame =
    pairs(batch, index, "l", "r", self = false, p, cfg).select(F.col("id_l").alias("id"))
}

/** Shingle-set families: a minhash signature over distinct shingle
  * hashes blocks candidates into LSH bands (`bands` × r rows), and the
  * exact Jaccard over the shingle sets verifies them (LshVerify). */
private[graft] final class ShingleFamily(name: String, val params: Seq[SigParam],
    shingles: (Column, SigParams) => Column, val bandShape: SigParams => (Int, Int),
    seed: SigParam, threshold: Double,
    check: SigParams => Option[String] = _ => None) extends TextSigFamily(name) {
  def marker: String = params.head.key
  override def problem(p: SigParams): Option[String] = check(p)
  /** signature width k = bands × rows per band */
  private def width(p: SigParams): Int = bandShape(p) match { case (b, r) => b * r }
  private def t(cfg: Cfg): Double = cfg.doubleOr("threshold", threshold)
  def corpusSchema(idType: DataType): StructType = StructType(Seq(
    StructField("id", idType), StructField("shingles", ArrayType(LongType)),
    StructField("sig", ArrayType(LongType))))
  def signatures(rows: DataFrame, p: SigParams): DataFrame =
    rows.select(F.col("id"), shingles(F.col("_txt"), p).alias("shingles"))
      .withColumn("sig", Shingles.minhashSignature(F.col("shingles"), width(p), p(seed)))
  val score = "jaccard"
  def pairs(left: DataFrame, right: DataFrame, a: String, b: String, self: Boolean,
      p: SigParams, cfg: Cfg): DataFrame = {
    val (bands, r) = bandShape(p)
    LshVerify.verifiedPairs(left, right, a, b, self, bands, r, width(p), t(cfg))
  }
}

private[graft] object TextSigFamily {
  private val ShingleSize = SigParam("shingle_size", 3L)
  private val NumHashes = SigParam("num_hashes", 128L)
  private val MinHashBands = SigParam("bands", 32L)
  private val MinHashSeed = SigParam("seed", 42L, wide = true)
  private val NgramSize = SigParam("ngram_size", 5L)
  private val NgramBands = SigParam("bands", 8L)
  // r=6: char n-grams of docs sharing a vocabulary sit at J~0.3-0.5, and
  // band-collision probability J^r must crush that mass (0.4^6 = 0.4%)
  // while keeping real near-dups (J>=0.9 -> P_band=53%, over 8 bands
  // recall ~99.8%).
  private val RowsPerBand = SigParam("rows_per_band", 6L)
  private val NgramSeed = SigParam("seed", 7L, wide = true)

  /** word-shingle size key and default, shared with text.fingerprint */
  def wordShingleSize: SigParam = ShingleSize

  /** word n-gram shingles, k = num_hashes permutations in num_hashes/bands
    * rows per band */
  val MinHash: ShingleFamily = new ShingleFamily("minhash",
    Seq(ShingleSize, NumHashes, MinHashBands, MinHashSeed),
    (txt, p) => Shingles.shingleHashes(txt, p.int(ShingleSize)),
    p => (p.int(MinHashBands), p.int(NumHashes) / p.int(MinHashBands)),
    MinHashSeed, threshold = 0.8, check = { p =>
      val (k, bands) = (p.int(NumHashes), p.int(MinHashBands))
      if (k % bands != 0) Some(s"num_hashes=$k must divide evenly into bands=$bands") else None
    })

  /** character n-grams (robust to word-boundary edits); a small minhash
    * signature only blocks, the threshold applies to the exact Jaccard */
  val Ngram: ShingleFamily = new ShingleFamily("ngram",
    Seq(NgramSize, NgramBands, RowsPerBand, NgramSeed),
    (txt, p) => charNgramHashes(txt, p.int(NgramSize)),
    p => (p.int(NgramBands), p.int(RowsPerBand)),
    NgramSeed, threshold = 0.7)

  /** 64-bit SimHash, Hamming distance ≤ `max_distance`: the signature has
    * no tunable parameters (FNV token hashes, fixed 64 bits), so `meta/` is
    * just the family marker; max_distance is a probe-time knob. */
  object SimHash extends TextSigFamily("simhash") {
    val params: Seq[SigParam] = Nil
    val marker = "simhash"
    override def metaCols(p: SigParams): Seq[DriverParquet.Col] =
      Seq(DriverParquet.Bool(marker, Seq(true)))
    def corpusSchema(idType: DataType): StructType =
      StructType(Seq(StructField("id", idType), StructField("sig", LongType)))

    /** bit j = sign of Σ tokens (+1/-1 by FNV-1a token-hash bit j) */
    private val simhashUdf = F.udf { toks: Seq[String] =>
      val counts = new Array[Int](64)
      toks.foreach { t =>
        val h = Shingles.fnv1a(t)
        var j = 0
        while (j < 64) { if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1; j += 1 }
      }
      var sig = 0L
      var j = 0
      while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
      sig
    }
    def signatures(rows: DataFrame, p: SigParams): DataFrame =
      rows.select(F.col("id"), simhashUdf(Shingles.tokens(F.col("_txt"))).alias("sig"))

    private def maxDist(cfg: Cfg): Int = cfg.longOr("max_distance", 3L).toInt

    /** pigeonhole (block_idx, block_val) explode of (id, sig) rows —
      * blocks = maxDist+1, so two sigs within hamming maxDist share at
      * least one exact block (block j = bits [j·width, (j+1)·width), the
      * last block takes the remainder). */
    private def blockedSigs(sigs: DataFrame, maxDist: Int, side: String): DataFrame = {
      val blocks = maxDist + 1
      val width = 64 / blocks
      sigs.select(F.col("id").alias(s"id_$side"), F.col("sig").alias(s"sig_$side"),
        F.posexplode(F.array((0 until blocks).map { j =>
          val w = if (j == blocks - 1) 64 - j * width else width
          F.shiftrightunsigned(F.col("sig"), j * width)
            .bitwiseAND(F.lit(if (w == 64) -1L else (1L << w) - 1L))
        }: _*)))
        .withColumnRenamed("pos", "block_idx").withColumnRenamed("col", "block_val")
    }
    val score = "hamming"
    def pairs(left: DataFrame, right: DataFrame, a: String, b: String, self: Boolean,
        p: SigParams, cfg: Cfg): DataFrame = {
      val (d, idA, idB) = (maxDist(cfg), s"id_$a", s"id_$b")
      val joined = blockedSigs(left, d, a)
        .join(blockedSigs(right, d, b), Seq("block_idx", "block_val"))
      // a cross pair found in several blocks repeats; crossDropped's
      // distinct absorbs it
      val blocked =
        if (self) joined.filter(F.col(idA) < F.col(idB)).dropDuplicates(idA, idB) else joined
      blocked.withColumn(score, F.bit_count(F.col(s"sig_$a").bitwiseXOR(F.col(s"sig_$b"))))
        .filter(F.col(score) <= d).select(idA, idB, score)
    }
    override def crossDropped(batch: DataFrame, index: DataFrame, p: SigParams,
        cfg: Cfg): DataFrame =
      super.crossDropped(batch, index, p, cfg).distinct()
  }

  val all: Seq[TextSigFamily] = Seq(MinHash, Ngram, SimHash)

  /** distinct character n-gram hashes of whitespace-normalized text — one
    * rolling pass per doc (the expression form re-normalizes the string per
    * gram, interpreted). */
  def charNgramHashes(text: Column, n: Int): Column = {
    val udf = F.udf { t: String =>
      if (t == null) Array.empty[Long]
      else {
        val norm = t.toLowerCase.replaceAll("\\s+", " ")
        val set = new java.util.LinkedHashSet[Long]()
        if (norm.length <= n) set.add(Shingles.fnv1a(norm))
        else {
          var i = 0
          while (i <= norm.length - n) {
            set.add(Shingles.fnv1a(norm.subSequence(i, i + n)))
            i += 1
          }
        }
        val out = new Array[Long](set.size)
        val it = set.iterator(); var i = 0
        while (it.hasNext) { out(i) = it.next(); i += 1 }
        out
      }
    }
    udf(text)
  }
}
