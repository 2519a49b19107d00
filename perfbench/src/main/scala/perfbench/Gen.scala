package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types._

/** Seeded input generators. Every byte an input holds is a function of the
  * workload seed: executor-side generation seeds one RNG per partition, so
  * the rows do not depend on scheduling. */
object Gen {

  /** Order-independent content hash of a parquet directory: row count plus
    * the sum of a 64-bit hash of every row. Sum, not xor, so planted exact
    * copies still count. */
  def fingerprint(spark: SparkSession, dir: String): String = {
    val df = spark.read.parquet(dir)
    val r = df.select(F.count(F.lit(1)),
      F.sum(F.xxhash64(df.columns.toIndexedSeq.map(F.col): _*).cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream * 7919L + 17L)

  // ---------------------------------------------------------------- star schema

  final case class StarSizes(facts: Int, customers: Int, products: Int, parts: Int)

  val Regions = Vector("north", "south", "east", "west", "central", "islands")
  val Segments = Vector("consumer", "smb", "enterprise", "public")
  val Categories = Vector.tabulate(24)(i => f"cat$i%02d")
  val Channels = Vector("web", "store", "phone", "partner", "test")

  /** fact `sales` (with replayed exact copies), `customers` (shuffle-join
    * side), `products` (broadcast side). Customer keys follow u^2 — a
    * moderately skewed head; product keys u^1.5. Returns the planted copy
    * count, which is the exact-dedup ground truth. */
  def star(spark: SparkSession, seed: Long, s: StarSizes, dir: String): Long = {
    val sc = spark.sparkContext
    val perPart = s.facts / s.parts
    val replayShare = 0.02
    val factSchema = StructType(Seq(
      StructField("order_id", LongType, false), StructField("customer_id", IntegerType, false),
      StructField("product_id", IntegerType, false), StructField("order_month", IntegerType, false),
      StructField("quantity", IntegerType, false), StructField("unit_price", DoubleType, false),
      StructField("discount", DoubleType, false), StructField("channel", StringType, false)))
    val (c, p) = (s.customers, s.products)
    val facts = sc.parallelize(0 until s.parts, s.parts).mapPartitions { parts =>
      parts.flatMap { part =>
        val r = rng(seed, 1000 + part)
        val buf = Vector.newBuilder[Row]
        var i = 0
        while (i < perPart) {
          val row = Row(part.toLong * perPart + i,
            math.min(c - 1, (c * math.pow(r.nextDouble(), 2.0)).toInt),
            math.min(p - 1, (p * math.pow(r.nextDouble(), 1.5)).toInt),
            1 + r.nextInt(12), 1 + r.nextInt(9),
            math.rint(r.nextDouble() * 20000) / 100.0,
            r.nextInt(4) * 0.05,
            Channels(if (r.nextDouble() < 0.05) 4 else r.nextInt(4)))
          buf += row
          // an at-least-once ingest replays a small share of rows verbatim
          if (r.nextDouble() < replayShare) buf += row
          i += 1
        }
        buf.result()
      }
    }
    spark.createDataFrame(facts, factSchema).write.parquet(s"$dir/sales")
    val custRows = (0 until c).map { i =>
      val r = rng(seed, 2000000L + i)
      Row(i, Regions(r.nextInt(Regions.size)), Segments(r.nextInt(Segments.size)),
        2000 + r.nextInt(25), s"customer-$i-" + java.lang.Long.toHexString(r.nextLong()))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(custRows, 4), StructType(Seq(
      StructField("customer_id", IntegerType, false), StructField("region", StringType, false),
      StructField("segment", StringType, false), StructField("since_year", IntegerType, false),
      StructField("customer_name", StringType, false))))
      .write.parquet(s"$dir/customers")
    val prodRows = (0 until p).map { i =>
      val r = rng(seed, 3000000L + i)
      Row(i, Categories(r.nextInt(Categories.size)), s"brand${r.nextInt(60)}",
        math.rint(r.nextDouble() * 5000) / 100.0)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(prodRows, 1), StructType(Seq(
      StructField("product_id", IntegerType, false), StructField("category", StringType, false),
      StructField("brand", StringType, false), StructField("list_price", DoubleType, false))))
      .write.parquet(s"$dir/products")
    spark.read.parquet(s"$dir/sales").count() - s.parts.toLong * perPart
  }

  // ---------------------------------------------------------------- text

  /** A pseudo-word vocabulary; Zipf-like draws over it make documents
    * whose shingle sets look like prose (a heavy head of common words). */
  final class Vocab(seed: Long, size: Int) {
    private val r = rng(seed, 42)
    val words: Array[String] = Array.tabulate(size) { _ =>
      val len = 2 + r.nextInt(8)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
      sb.result()
    }
    def draw(r: SplittableRandom): String = words((size * math.pow(r.nextDouble(), 2.2)).toInt min (size - 1))
  }

  def doc(v: Vocab, r: SplittableRandom, minLen: Int, maxLen: Int): Array[String] =
    Array.fill(minLen + r.nextInt(maxLen - minLen + 1))(v.draw(r))

  /** A near copy: every word is replaced with probability `rate`. */
  def mutate(words: Array[String], v: Vocab, r: SplittableRandom, rate: Double): Array[String] =
    words.map(w => if (r.nextDouble() < rate) v.draw(r) else w)

  /** The word 3-shingle set graft's minhash verify compares: lowercase,
    * whitespace-split, distinct n-grams (a doc shorter than n is one
    * shingle). Independent code; same definition. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.toLowerCase.trim.split("\\s+")
    if (toks.length < n) Set(toks.mkString(" "))
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  // ---------------------------------------------------------------- stream backlog

  final case class StreamDoc(id: Long, text: String, batch: Int)

  /** The base corpus the stream workload indexes at set-up. */
  def streamBase(seed: Long, docs: Int): Vector[StreamDoc] = {
    val v = new Vocab(seed, 6000)
    val r = rng(seed, 11)
    Vector.tabulate(docs)(i => StreamDoc(i.toLong, doc(v, r, 40, 120).mkString(" "), -1))
  }

  /** A backlog of `batches` files of `batchRows` rows against `base`. Per
    * row of batch k: 30 % a near copy of a base doc, 20 % (k > 0) a near
    * copy of a novel row of an earlier batch, the rest novel. A source doc
    * is copied at most once and copies are never sources, so the pairwise
    * batch rule and the stream's append rule agree on every row. Ids grow
    * with arrival from 1000000, above every base id. Returns the rows and
    * the ids a correct dedup removes (copies whose exact shingle Jaccard to
    * their source reaches the threshold). */
  def backlog(seed: Long, base: Vector[StreamDoc], batches: Int, batchRows: Int,
      threshold: Double): (Vector[StreamDoc], Set[Long]) = {
    val v = new Vocab(seed, 6000)
    val stream = 22L
    val r = rng(seed, stream)
    val unusedBase = new scala.util.Random(seed * 31 + stream).shuffle(base.indices.toVector).iterator
    val novel = scala.collection.mutable.ArrayBuffer[StreamDoc]()
    val usedNovel = scala.collection.mutable.Set[Long]()
    val out = Vector.newBuilder[StreamDoc]
    val removed = Set.newBuilder[Long]
    var next = 1000000L
    (0 until batches).foreach { b =>
      val fresh = scala.collection.mutable.ArrayBuffer[StreamDoc]()
      // exact shares per batch, in a seeded order
      val kinds = new scala.util.Random(seed * 131 + stream * 17 + b).shuffle(
        Vector.tabulate(batchRows)(i => if (i < batchRows * 3 / 10) 0 else if (i < batchRows / 2) 1 else 2))
      kinds.foreach { kind =>
        val src: Option[StreamDoc] =
          if (kind == 0 && unusedBase.hasNext) Some(base(unusedBase.next()))
          else if (kind == 1 && novel.exists(d => !usedNovel(d.id))) {
            val cands = novel.filterNot(d => usedNovel(d.id))
            val d = cands(r.nextInt(cands.size)); usedNovel += d.id; Some(d)
          } else None
        val d = src match {
          case Some(s) =>
            val t = mutate(s.text.split(" "), v, r, 0.01 + 0.07 * r.nextDouble()).mkString(" ")
            if (jaccard(shingles(t), shingles(s.text)) >= threshold) removed += next
            StreamDoc(next, t, b)
          case None =>
            val nd = StreamDoc(next, doc(v, r, 40, 120).mkString(" "), b)
            fresh += nd
            nd
        }
        out += d
        next += 1
      }
      novel ++= fresh
    }
    (out.result(), removed.result())
  }

  /** One parquet file per batch, `batch-NNNN.parquet`, with increasing
    * mtimes — the order file.stream lists them in. One Spark job writes
    * them all. */
  def stageBacklog(spark: SparkSession, rows: Seq[StreamDoc], dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = s"$dir-staging"
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(d => Row(d.id, d.text, d.batch)), 4), StructType(TextSchema.fields :+
        StructField("batch", IntegerType, false)))
      .repartition(F.col("batch")).write.partitionBy("batch").parquet(tmp)
    val target = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(target)
    val t0 = System.currentTimeMillis() - 3600L * 1000
    rows.map(_.batch).distinct.sorted.foreach { b =>
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/batch=$b")).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      val f = target.resolve(f"batch-$b%04d.parquet")
      java.nio.file.Files.move(part, f)
      java.nio.file.Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(t0 + b * 1000L))
    }
    Workload.deleteTree(tmp)
  }

  val TextSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, false), StructField("text", StringType, false)))

  def textFrame(spark: SparkSession, docs: Seq[StreamDoc], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text)), parts), TextSchema)
}
