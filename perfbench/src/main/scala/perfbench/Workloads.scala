package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.config.PipelineConfig
import graft.core.{DagCompiler, Registry}

/** Outcome of one output check. `dupTruth`/`dupHit`/`removed` feed recall
  * (hit / truth) and precision (hit / removed). */
final case class Check(ok: Boolean, detail: String, dupTruth: Long, dupHit: Long, removed: Long)

/** One workload: seeded inputs, the TOML pipeline a user would write, and
  * an output check that does not trust graft. Directory layout:
  * `in` holds the generated inputs, each run writes under its own dir. */
abstract class Workload(val name: String) {
  /** Rows the pipeline reads per run (rows_per_s numerator). */
  def inputRows: Long
  /** Operations per run: 1 for a batch pipeline, the micro-batch count for
    * a stream. `cold` is run 0, the first run of the session. */
  def ops(cold: Boolean): Int = 1
  /** Runs after run 0 that are checked but not measured: JIT compilation
    * is still settling during them. */
  def warmupRuns: Int = 1
  /** Steady runs measured at least, however short `--seconds` is. */
  def minSteadyRuns: Int = 1
  /** Latencies come from micro-batch progress instead of sink commits. */
  def streaming: Boolean = false
  def generate(spark: SparkSession, in: String): Unit
  def fingerprint(spark: SparkSession, in: String): String
  /** Set-up work that is graft's, not the generator's (index build). */
  def build(spark: SparkSession, in: String): Unit = ()
  /** Untimed per-run preparation; returns the pipeline TOML. */
  def prepare(spark: SparkSession, in: String, run: String, cold: Boolean): String
  /** Paths of the sinks, in commit order. */
  def sinkDirs(run: String): Seq[String]
  /** Called once after the first run, before any check (references). */
  def reference(spark: SparkSession, in: String, run: String): Unit = ()
  def check(spark: SparkSession, in: String, run: String, cold: Boolean): Check
  /** Text input for the signature-kernel timing (trace mode). */
  def kernelInput(in: String): Option[String] = None
  /** Index directory a run grows (trace mode storage metrics). */
  def indexDir(run: String): Option[String] = None
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "etl_relational" => new EtlRelational(seed)
    case "stream_ingest"  => new StreamIngest(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** `graft run`: parse, resolve the registry, compile and run. */
  def runPipeline(spark: SparkSession, toml: String): Unit = {
    val pc = PipelineConfig.fromString(toml)
    new DagCompiler(Registry.forPipeline(pc)).run(spark, pc)
  }

  def ids(spark: SparkSession, dir: String, col: String): Set[Long] =
    spark.read.parquet(dir).select(col).collect().map(_.getLong(0)).toSet

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** (count, bytes) of the regular files under a directory whose name
    * passes `keep`. */
  def files(dir: String, keep: String => Boolean): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        keep(p.getFileName.toString)).toVector
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** Data files a parquet write leaves. */
  def dataFiles(dir: String): (Long, Long) = files(dir, _.startsWith("part-"))


  def recallPrecisionCheck(label: String, removed: Set[Long], expected: Set[Long],
      minRecall: Double): Check = {
    val hit = (removed intersect expected).size.toLong
    val wrong = removed.size - hit
    val recall = if (expected.isEmpty) 1.0 else hit.toDouble / expected.size
    val ok = wrong == 0 && recall >= minRecall
    Check(ok, f"$label: removed ${removed.size}, planted ${expected.size}, hit $hit, " +
      f"wrongly removed $wrong, recall $recall%.4f", expected.size, hit, removed.size)
  }
}

// ==================================================================== etl

/** Star schema → exact replay dedup → filter → map → shuffle join →
  * broadcast join → group by (5 aggregates) → sort → single-file parquet,
  * with a second sink writing the joined rows (fan-out persist). */
final class EtlRelational(seed: Long) extends Workload("etl_relational") {
  val sizes = Gen.StarSizes(facts = 100000, customers = 40000, products = 2000, parts = 8)
  private var planted = 0L
  private var facts = 0L
  def inputRows: Long = facts

  def generate(spark: SparkSession, in: String): Unit = {
    planted = Gen.star(spark, seed, sizes, in)
    facts = sizes.facts + planted
  }
  def fingerprint(spark: SparkSession, in: String): String =
    Seq("sales", "customers", "products").map(t => Gen.fingerprint(spark, s"$in/$t")).mkString("/")

  def sinkDirs(run: String): Seq[String] = Seq(s"$run/summary", s"$run/enriched")

  def prepare(spark: SparkSession, in: String, run: String, cold: Boolean): String =
    s"""[pipeline]
       |name = "perfbench-etl-relational"
       |
       |[global.spark]
       |sql.autoBroadcastJoinThreshold = 1048576
       |
       |[[stages]]
       |id = "sales"
       |function = "parquet.read"
       |config = { path = "$in/sales" }
       |
       |[[stages]]
       |id = "customers"
       |function = "parquet.read"
       |config = { path = "$in/customers" }
       |
       |[[stages]]
       |id = "products"
       |function = "parquet.read"
       |config = { path = "$in/products" }
       |
       |[[stages]]
       |id = "replays_removed"
       |function = "dedup.exact"
       |inputs = ["sales"]
       |config = { columns = ["order_id"] }
       |
       |[[stages]]
       |id = "real_orders"
       |function = "filter.apply"
       |inputs = ["replays_removed"]
       |config = { column = "channel", operator = "!=", value = "test" }
       |
       |[[stages]]
       |id = "priced"
       |function = "map.apply"
       |inputs = ["real_orders"]
       |config = { output_column = "revenue", sql = "quantity * unit_price * (1 - discount)" }
       |
       |[[stages]]
       |id = "with_customer"
       |function = "join.apply"
       |inputs = ["priced", "customers"]
       |config = { on = ["customer_id"], how = "inner" }
       |
       |[[stages]]
       |id = "enriched"
       |function = "join.apply"
       |inputs = ["with_customer", "products"]
       |config = { on = ["product_id"], how = "inner", broadcast = "right" }
       |
       |[[stages]]
       |id = "by_cell"
       |function = "groupby.apply"
       |inputs = ["enriched"]
       |[stages.config]
       |by = ["region", "category", "order_month"]
       |aggregations = [
       |  { column = "revenue", operation = "sum", output_column = "revenue" },
       |  { column = "order_id", operation = "count", output_column = "orders" },
       |  { column = "unit_price", operation = "avg", output_column = "avg_price" },
       |  { column = "quantity", operation = "max", output_column = "max_qty" },
       |  { column = "customer_id", operation = "count_distinct", output_column = "buyers" },
       |]
       |
       |[[stages]]
       |id = "ordered"
       |function = "sort.apply"
       |inputs = ["by_cell"]
       |config = { by = ["region", "category", "order_month"] }
       |
       |[[stages]]
       |id = "summary_out"
       |function = "parquet.write"
       |inputs = ["ordered"]
       |config = { path = "$run/summary", single_file = true }
       |
       |[[stages]]
       |id = "enriched_out"
       |function = "parquet.write"
       |inputs = ["enriched"]
       |config = { path = "$run/enriched" }
       |""".stripMargin

  // the same query, written independently in Spark SQL
  private var refSummary: Array[org.apache.spark.sql.Row] = Array.empty
  private var refEnriched = ""
  private var refOrders = 0L
  private var plantedPassing = 0L

  private def enrichedHash(df: DataFrame): String = {
    val cols = df.columns.sorted.toIndexedSeq.map(F.col)
    val r = df.select(F.count(F.lit(1)),
      F.sum(F.xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  override def reference(spark: SparkSession, in: String, run: String): Unit = {
    Seq("sales", "customers", "products").foreach(t =>
      spark.read.parquet(s"$in/$t").createOrReplaceTempView(s"ref_$t"))
    val enriched = spark.sql(
      """SELECT f.product_id, f.customer_id, f.order_id, f.order_month, f.quantity,
        |       f.unit_price, f.discount, f.channel, f.quantity * f.unit_price * (1 - f.discount) AS revenue,
        |       c.region, c.segment, c.since_year, c.customer_name, p.category, p.brand, p.list_price
        |FROM (SELECT DISTINCT * FROM ref_sales) f
        |JOIN ref_customers c ON f.customer_id = c.customer_id
        |JOIN ref_products p ON f.product_id = p.product_id
        |WHERE f.channel <> 'test'""".stripMargin)
    enriched.persist().createOrReplaceTempView("ref_enriched")
    refEnriched = enrichedHash(enriched)
    refOrders = enriched.count()
    plantedPassing = spark.table("ref_sales").filter(F.col("channel") =!= "test").count() - refOrders
    refSummary = spark.sql(
      """SELECT region, category, order_month, sum(revenue) AS revenue, count(order_id) AS orders,
        |       avg(unit_price) AS avg_price, max(quantity) AS max_qty,
        |       count(DISTINCT customer_id) AS buyers
        |FROM ref_enriched GROUP BY region, category, order_month
        |ORDER BY region, category, order_month""".stripMargin).collect()
    enriched.unpersist()
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def check(spark: SparkSession, in: String, run: String, cold: Boolean): Check = {
    // single_file: one part file, read in file order — the sort is checked as written
    val part = Files.list(Paths.get(s"$run/summary")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector
    val got = spark.read.parquet(part.map(_.toString): _*)
      .select("region", "category", "order_month", "revenue", "orders", "avg_price", "max_qty", "buyers")
      .collect()
    val summaryOk = part.size == 1 && got.length == refSummary.length &&
      got.zip(refSummary).forall { case (g, r) =>
        g.getString(0) == r.getString(0) && g.getString(1) == r.getString(1) &&
        g.getInt(2) == r.getInt(2) && close(g.getDouble(3), r.getDouble(3)) &&
        g.getLong(4) == r.getLong(4) && close(g.getDouble(5), r.getDouble(5)) &&
        g.getInt(6) == r.getInt(6) && g.getLong(7) == r.getLong(7)
      }
    // one pass: the content hash, and the replay ground truth — every
    // planted copy removed, no order lost
    val outEnriched = spark.read.parquet(s"$run/enriched")
    val r = outEnriched.select(F.count(F.lit(1)),
      F.sum(F.xxhash64(outEnriched.columns.sorted.toIndexedSeq.map(F.col): _*).cast("decimal(38,0)")),
      F.count_distinct(F.col("order_id"))).head()
    val (rowsOut, distinctOut) = (r.getLong(0), r.getLong(2))
    val enrichedOk = s"$rowsOut:${r.getDecimal(1)}" == refEnriched
    val leftover = rowsOut - distinctOut
    val lost = refOrders - distinctOut
    val hit = plantedPassing - leftover
    Check(summaryOk && enrichedOk && leftover == 0 && lost == 0,
      s"summary ${if (summaryOk) "matches" else "DIFFERS from"} the SQL reference " +
      s"(${got.length} rows, order-aware); enriched ${if (enrichedOk) "matches" else "DIFFERS"}; " +
      s"replays planted $plantedPassing, left $leftover, orders lost $lost",
      plantedPassing, hit, hit + lost)
  }
}

// ==================================================================== stream

/** A minhash index built at set-up and a backlog of one parquet file per
  * micro-batch, drained by file.stream → stream.ingest (available_now).
  * Run 0 drains the backlog's first `coldBatches` files; the warm-up run
  * and each steady run drain the whole backlog. Every drain starts from a
  * pristine copy of the index. */
final class StreamIngest(seed: Long) extends Workload("stream_ingest") {
  val baseDocs = 4000
  val batches = 4
  val coldBatches = 1
  val batchRows = 100
  val threshold = 0.8
  private var expected: Set[Long] = Set.empty
  private var ids: Map[Boolean, Set[Long]] = Map.empty
  private var refIds: Set[Long] = Set.empty
  private var firstOut: Option[Set[Long]] = None
  def inputRows: Long = batches.toLong * batchRows
  override def ops(cold: Boolean): Int = if (cold) coldBatches else batches
  override def streaming: Boolean = true
  // a drain is one sample of wall_s; two give drain-to-drain agreement
  override def minSteadyRuns: Int = 2

  def generate(spark: SparkSession, in: String): Unit = {
    val base = Gen.streamBase(seed, baseDocs)
    val (rows, removed) = Gen.backlog(seed, base, batches, batchRows, threshold)
    expected = removed
    ids = Map(false -> rows.map(_.id).toSet, true -> rows.filter(_.batch < coldBatches).map(_.id).toSet)
    Gen.textFrame(spark, base, 4).write.parquet(s"$in/base")
    Gen.stageBacklog(spark, rows, s"$in/backlog")
    // the cold drain's files: the backlog's first files, mtimes kept
    Files.createDirectories(Paths.get(s"$in/cold"))
    (0 until coldBatches).foreach { b =>
      val f = f"batch-$b%04d.parquet"
      Files.copy(Paths.get(s"$in/backlog/$f"), Paths.get(s"$in/cold/$f"),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def fingerprint(spark: SparkSession, in: String): String =
    Seq("base", "backlog").map(d => Gen.fingerprint(spark, s"$in/$d")).mkString("/")

  override def build(spark: SparkSession, in: String): Unit = {
    Workload.deleteTree(s"$in/index")
    Workload.runPipeline(spark,
      s"""[pipeline]
         |name = "perfbench-stream-index"
         |
         |[[stages]]
         |id = "base"
         |function = "parquet.read"
         |config = { path = "$in/base" }
         |
         |[[stages]]
         |id = "index"
         |function = "index.build"
         |inputs = ["base"]
         |config = { type = "minhash", path = "$in/index", id_column = "doc_id", text_column = "text", shingle_size = 3, num_hashes = 128, bands = 32, seed = 42 }
         |
         |[[stages]]
         |id = "done"
         |function = "noop.sink"
         |inputs = ["index"]
         |""".stripMargin)
  }

  def sinkDirs(run: String): Seq[String] = Seq(s"$run/corpus")
  override def indexDir(run: String): Option[String] = Some(s"$run/index")
  override def kernelInput(in: String): Option[String] = Some(s"$in/backlog")

  def prepare(spark: SparkSession, in: String, run: String, cold: Boolean): String = {
    // every drain starts from a pristine copy of the index (untimed)
    Workload.copyTree(s"$in/index", s"$run/index")
    s"""[pipeline]
       |name = "perfbench-stream-ingest"
       |
       |[global]
       |execution_mode = "streaming"
       |
       |[[stages]]
       |id = "arrivals"
       |function = "file.stream"
       |config = { path = "$in/${if (cold) "cold" else "backlog"}", format = "parquet", schema = "doc_id LONG, text STRING", max_files_per_trigger = 1 }
       |
       |[[stages]]
       |id = "ingest"
       |function = "stream.ingest"
       |inputs = ["arrivals"]
       |config = { path = "$run/corpus", index_path = "$run/index", checkpoint = "$run/checkpoint", dedup = "minhash", id_column = "doc_id", text_column = "text", threshold = $threshold, trigger = "available_now" }
       |""".stripMargin
  }

  /** The stream must equal one batch dedup.minhash of the whole backlog
    * against a pristine copy of the same index. */
  override def reference(spark: SparkSession, in: String, run: String): Unit = {
    val ref = s"$run-reference"
    Workload.copyTree(s"$in/index", s"$ref/index")
    Workload.runPipeline(spark,
      s"""[pipeline]
         |name = "perfbench-stream-reference"
         |
         |[[stages]]
         |id = "backlog"
         |function = "parquet.read"
         |config = { path = "$in/backlog" }
         |
         |[[stages]]
         |id = "kept"
         |function = "dedup.minhash"
         |inputs = ["backlog"]
         |config = { index_path = "$ref/index", id_column = "doc_id", text_column = "text", threshold = $threshold }
         |
         |[[stages]]
         |id = "out"
         |function = "parquet.write"
         |inputs = ["kept"]
         |config = { path = "$ref/out" }
         |""".stripMargin)
    refIds = Workload.ids(spark, s"$ref/out", "doc_id")
    Workload.deleteTree(ref)
  }

  /** A drain's output, restricted to the files it drained, must equal the
    * reference, and every steady drain the first. */
  def check(spark: SparkSession, in: String, run: String, cold: Boolean): Check = {
    val out = Workload.ids(spark, s"$run/corpus", "doc_id")
    val c = Workload.recallPrecisionCheck(if (cold) "cold drain" else "drain",
      ids(cold) -- out, expected intersect ids(cold), 0.9)
    val sameAsBatch = out == (refIds intersect ids(cold))
    val sameAsFirst = cold || firstOut.forall(_ == out)
    if (!cold && firstOut.isEmpty) firstOut = Some(out)
    c.copy(ok = c.ok && sameAsBatch && sameAsFirst,
      detail = c.detail + s"; equals batch dedup.minhash: $sameAsBatch; equals first drain: $sameAsFirst")
  }
}
