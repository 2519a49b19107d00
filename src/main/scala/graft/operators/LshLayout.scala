package graft.operators

import org.apache.spark.sql.{Column, Row, functions => F}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.config.Cfg
import graft.core.{DriverParquet, StageContext}
import graft.functions.{BandSignatures, HyperplaneSignature}

/** An operator's lsh parameter defaults: the plane count and the seed
  * differ by operator (index.build 16/11, dedup.embedding 32/11,
  * join.similar 32/42), and join.similar spells num_planes `planes`. */
private[graft] final case class LshDefaults(planes: Long = 16L, seed: Long = 11L,
    planesKey: String = "num_planes") {
  /** the config key of parameter `q` */
  def key(q: SigParam): String = if (q == LshLayout.Planes) planesKey else q.key
}

/** Everything that differs between the two hyperplane-LSH index layouts:
  * the signature and how it splits into keys, the corpus partition columns
  * and schema, the optional candidate prefilter, the signature parameters
  * with their `meta/` names and types, the marker field and the parameter
  * checks. A corpus row is written once per key position (`posCol`),
  * partitioned by (`posCol`, `dirCol` = key % partition_dirs[, `tagCol`])
  * with the exact key (`keyCol`) as a data column, so the dir count stays
  * bounded whatever the key width. [[LshIndex]] runs every mode from this
  * value alone; this module is the only code that knows the lsh meta
  * format and corpus columns. */
private[graft] sealed abstract class LshLayout(val name: String, val posCol: String,
    val keyCol: String, val dirCol: String) extends IndexKind {
  import LshLayout._
  /** signature parameters, in `meta/` column order */
  def params: Seq[SigParam]
  /** the `meta/` field whose presence marks an index of this layout */
  def marker: String
  val indexType = "lsh"
  override def describe: String = s"$name-partitioned"
  override def buildConfig: String = s"""type=lsh blocking = "$name""""
  def marks(fields: Set[String]): Boolean = fields.contains(marker)
  override def recorded(meta: Row): SigParams = fromMeta(meta)
  def family: IndexCatalog.Expected[IndexKind] = IndexCatalog.Lsh(LshDefaults())
  def build(ctx: StageContext, op: String, path: String, mode: String,
      existing: Option[IndexCatalog.Opened[IndexKind]]): Unit =
    LshIndex.build(ctx, this, op, path, mode, existing)
  /** the per-batch partition level a streaming append overwrites, if any */
  def tagCol: Option[String] = None
  def streamable: Boolean = tagCol.isDefined
  /** whether a top-k probe may visit only the first `probe_bands` positions */
  def boundable: Boolean = false
  def partitionCols: Seq[String] = Seq(posCol, dirCol) ++ tagCol
  /** the probe equi-join key: the dir key prunes partitions, the exact key matches */
  def joinCols: Seq[String] = Seq(posCol, dirCol, keyCol)
  /** every column the layout adds to an indexed row */
  def corpusCols: Seq[String] = joinCols ++ tagCol

  /** key positions per row, and bits per key */
  def keyCount(p: SigParams): Int
  def keyBits(p: SigParams): Int
  /** how the errors name keyBits */
  def keyBitsName: String
  /** what to rebuild with when the keys are too wide to enumerate */
  def narrowerHint: String
  def signature(vec: Column, p: SigParams, ndExplode: Boolean = false): Column
  /** the keyCount keys (array<long>) of a signature column */
  def keys(sig: Column, p: SigParams): Column
  /** the keys of one query vector: the signature expression evaluated on
    * the driver over the vector rounded to float, as the corpus stores it */
  def queryKeys(q: Seq[Double], p: SigParams): Seq[Long]
  /** a cheap (sig_l, sig_r) filter ahead of the exact cosine, if any */
  def prefilter(p: SigParams, threshold: Double): Option[(Column, Column) => Column] = None
  /** a parameter combination this layout cannot honour; `indexed` adds
    * the limits of a written corpus */
  def problem(p: SigParams, d: LshDefaults, indexed: Boolean): Option[String]
  /** mean rows per (position, key) of a corpus of `rows` keyed rows, where
    * the layout tracks it */
  def occupancy(p: SigParams, rows: Long): Option[Double] = None
  /** a build-time warning about the corpus of `rows` keyed rows */
  def advice(p: SigParams, rows: => Long): Option[String] = None

  def dim(p: SigParams): Int = p.int(Dim)
  def dirs(p: SigParams): Int = p.int(Dirs)
  def fromConfig(cfg: Cfg, d: LshDefaults, dim: Int): SigParams = SigParams(params.map {
    case Dim => Dim -> dim.toLong
    case Planes => Planes -> cfg.longOr(d.planesKey, d.planes)
    case Seed => Seed -> cfg.longOr(Seed.key, d.seed)
    case q => q -> q.of(cfg)
  })
  def fromMeta(meta: Row): SigParams = SigParams(params.map(q => q -> q.fromMeta(meta)))
  def metaCols(p: SigParams): Seq[DriverParquet.Col] = p.values.map { case (q, v) => q.metaCol(v) }
  def corpusSchema(id: StructField, vec: StructField): StructType = StructType(Seq(
    id, vec, StructField(keyCol, LongType), StructField(posCol, IntegerType),
    StructField(dirCol, IntegerType)) ++ tagCol.map(StructField(_, StringType)))
}

private[graft] object LshLayout {
  val Planes = SigParam("num_planes", 16L)
  val Blocks = SigParam("blocks", 4L)
  val NBands = SigParam("bands", 16L)
  val BandPlanes = SigParam("band_planes", 16L)
  val Seed = SigParam("seed", 11L, wide = true)
  val Dim = SigParam("dim", 0L)
  // partition DIRS per key position, decoupled from the key space: the
  // exact key is a data column and the dir key is key % P, so signature
  // width buys selectivity without minting 2^width dirs
  val Dirs = SigParam("partition_dirs", 64L, field = Some("pbuckets"))

  /** one h-bit hyperplane signature sliced into `blocks` keys of
    * h/blocks bits: two vectors within Hamming distance blocks-1 share at
    * least one exact key (the pigeonhole recall guarantee) */
  object Pigeonhole extends LshLayout("pigeonhole", "block", "bucket", "pbucket") {
    val params: Seq[SigParam] = Seq(Planes, Blocks, Seed, Dim, Dirs)
    val marker: String = Dirs.metaField
    def keyCount(p: SigParams): Int = p.int(Blocks)
    def keyBits(p: SigParams): Int = p.int(Planes) / p.int(Blocks)
    val keyBitsName = "the block width"
    val narrowerHint = "more blocks"
    def signature(vec: Column, p: SigParams, ndExplode: Boolean): Column =
      DedupEmbeddingOp.hyperplaneSig(vec, dim(p), p.int(Planes), p(Seed), ndExplode)
    def keys(sig: Column, p: SigParams): Column = blockKeys(sig, keyCount(p), keyBits(p))
    /** the `blocks` bucket keys of a signature column — build, self-join,
      * probe and append must all agree or buckets silently miss */
    def blockKeys(sig: Column, blocks: Int, width: Int): Column =
      F.array((0 until blocks).map(j => blockKey(sig, j, width)): _*)
    def blockKey(sig: Column, j: Int, width: Int): Column =
      F.shiftrightunsigned(sig, j * width).bitwiseAND(F.lit((1L << width) - 1L))
    def queryKeys(q: Seq[Double], p: SigParams): Seq[Long] = {
      val sig = evalOnQuery(HyperplaneSignature(_, dim(p), p.int(Planes), p(Seed), false), q)
        .asInstanceOf[Long]
      val width = keyBits(p)
      (0 until keyCount(p)).map(j => (sig >>> (j * width)) & ((1L << width) - 1L))
    }
    override def prefilter(p: SigParams, threshold: Double): Option[(Column, Column) => Column] = {
      val maxBits = maxBitsFor(p.int(Planes), threshold)
      Some((a, b) => F.bit_count(a.bitwiseXOR(b)) <= maxBits)
    }
    /** Hamming prefilter bound: a pair at cosine >= threshold differs on an
      * expected h·acos(cos)/π bits; allow +4σ so recall stays ~1 while a
      * random pair (expected h/2 differing bits) is almost surely cut
      * before the exact-cosine verify. */
    def maxBitsFor(h: Int, threshold: Double): Int = {
      val expBits = h * (math.acos(math.min(1.0, threshold)) / math.Pi)
      math.ceil(expBits + 4 * math.sqrt(h) / 2).toInt
    }
    def problem(p: SigParams, d: LshDefaults, indexed: Boolean): Option[String] = {
      val (h, blocks) = (p.int(Planes), p.int(Blocks))
      if (blocks < 1) Some(s"blocks must be >= 1, got $blocks")
      else if (h % blocks != 0) Some(s"${d.planesKey}=$h must divide evenly into blocks=$blocks")
      else if (h > 64) Some(s"${d.planesKey} = $h exceeds 64: signatures pack into one " +
        "64-bit long, and further planes would silently alias (shift amounts wrap mod 64)")
      else if (indexed && h / blocks > 16) Some(s"${d.planesKey}/blocks = ${h / blocks} bits " +
        "per block; cap is 16 — raise blocks or lower num_planes")
      else if (indexed && dirs(p) < 1) Some("partition_dirs must be >= 1")
      else None
    }
  }

  /** `bands` independent `band_planes`-bit signatures, a candidate on ONE
    * exact band agreement: random collisions fall as 2^-band_planes per
    * band, a free corpus-scale knob, at probabilistic recall. The third
    * partition level `ingest_tag` gives each streaming micro-batch an
    * idempotent dynamic-overwrite append target (`base` for batch writes). */
  object Bands extends LshLayout("bands", "band", "bsig", "pband") {
    val params: Seq[SigParam] = Seq(NBands, BandPlanes, Seed, Dim, Dirs)
    val marker: String = BandPlanes.metaField
    override val tagCol: Option[String] = Some("ingest_tag")
    override val boundable = true
    def keyCount(p: SigParams): Int = p.int(NBands)
    def keyBits(p: SigParams): Int = p.int(BandPlanes)
    val keyBitsName = "band_planes"
    val narrowerHint = "narrower bands"
    def signature(vec: Column, p: SigParams, ndExplode: Boolean): Column =
      DedupEmbeddingOp.bandSignatures(vec, dim(p), keyCount(p), keyBits(p), p(Seed), ndExplode)
    def keys(sig: Column, p: SigParams): Column = sig
    def queryKeys(q: Seq[Double], p: SigParams): Seq[Long] =
      evalOnQuery(BandSignatures(_, dim(p), keyCount(p), keyBits(p), p(Seed), false), q)
        .asInstanceOf[ArrayData].toLongArray().toSeq
    def problem(p: SigParams, d: LshDefaults, indexed: Boolean): Option[String] = {
      val (bands, r) = (keyCount(p), keyBits(p))
      if (bands < 1) Some(s"bands must be >= 1, got $bands")
      else if (r < 1 || r > 63) Some(s"band_planes must be in [1, 63], got $r")
      else if (indexed && dirs(p) < 1) Some("partition_dirs must be >= 1")
      else None
    }
    override def occupancy(p: SigParams, rows: Long): Option[Double] =
      Some(rows.toDouble / math.max(1, keyCount(p)) / (1L << keyBits(p)))
    override def advice(p: SigParams, rows: => Long): Option[String] =
      IndexBuildOp.bandsOccupancyWarning(rows / math.max(1, keyCount(p)), keyBits(p))
  }

  val all: Seq[LshLayout] = Seq(Pigeonhole, Bands)
  def byName(blocking: String): Option[LshLayout] = all.find(_.name == blocking)
  /** a pigeonhole meta written before the (block, pbucket) layout */
  def legacy(fields: Set[String]): Boolean =
    fields.contains(Planes.metaField) && !fields.contains(Dirs.metaField)

  /** every key within Hamming distance `d` of `key` in a `bits`-bit space */
  def within(key: Long, bits: Int, d: Int): Array[Long] =
    (0L until (1L << bits)).filter(x => java.lang.Long.bitCount(x ^ key) <= d).toArray

  private def evalOnQuery(sig: Expression => Expression, q: Seq[Double]): Any =
    sig(Literal(UnsafeArrayData.fromPrimitiveArray(q.map(_.toFloat).toArray),
      ArrayType(FloatType, containsNull = false))).eval()
}
