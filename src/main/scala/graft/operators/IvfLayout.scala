package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types._
import graft.config.{Cfg, GraftConfigError}
import graft.core.{DriverParquet, StageContext}

/** Everything that differs between the two ivf index layouts: the columns
  * a layout adds to a corpus row and the projection that computes them,
  * the tables beside `corpus/` and `centroids/`, the layout parameters
  * with their checks and `meta/` marker, and the scoring of the
  * cell-pruned candidates. Both layouts partition the corpus by `cell`,
  * the row's nearest coarse centroid, and keep the input rows whole.
  * [[IvfIndex]] runs every mode from this value alone; the two modules
  * are the only code that knows the ivf tables and corpus columns. */
private[graft] sealed abstract class IvfLayout(val name: String) extends IndexKind {
  import IvfLayout._
  def indexType: String = name
  def marks(fields: Set[String]): Boolean = false
  def family: IndexCatalog.Expected[IndexKind] = IndexCatalog.Ivf
  def build(ctx: StageContext, op: String, path: String, mode: String,
      existing: Option[IndexCatalog.Opened[IndexKind]]): Unit =
    IvfIndex.build(ctx, this, op, path, mode, existing.isDefined)
  /** every column the layout adds to an indexed row, `cell` first */
  def corpusCols: Seq[String]
  /** the tables an index of this layout has beside corpus/ and centroids/ */
  def tables: Seq[String] = Nil
  /** index.build's `max_train` default */
  def maxTrain: Long
  /** the recorded parameters an explicit append config must not contradict */
  def frozen: Seq[SigParam] = Nil
  def partitionCols: Seq[String] = Seq(Cell)
  /** a configured parameter combination this layout cannot honour */
  def problem(cfg: Cfg, dim: Int): Option[String] = None
  /** the `rerank` of a probe, checked */
  def rerank(op: String, cfg: Cfg): Int
  /** the codebooks trained on `sample` under the coarse `centroids` */
  def codebooks(sample: Array[Array[Double]], centroids: Array[Array[Double]], cfg: Cfg,
      seed: Long): Codebooks = Array.empty
  /** `rows` plus the corpus columns of vector column `vec`; `guard` wraps
    * the cell assignment so a row it rejects fails the write job */
  def corpusRows(spark: SparkSession, rows: DataFrame, vec: Column, q: IvfIndex.Quantizer,
      books: Codebooks, guard: Column => Column): DataFrame
  /** write the tables of a freshly trained index */
  def writeTables(path: String, books: Codebooks, nlist: Int, dim: Int, seed: Long,
      vecCol: String): Unit = ()
  /** the codebooks, recorded parameters and indexed vector column of the
    * index at `path`, whose quantizer is `q` and `meta/` row `meta` */
  def load(spark: SparkSession, path: String, op: String, q: IvfIndex.Quantizer,
      meta: Option[Row]): Stored
  def corpusSchema(id: StructField, vec: StructField): StructType =
    StructType(Seq(id, vec, StructField(Cell, IntegerType)))
  /** the corpus columns, besides the id, a probe with this `rerank` reads */
  def probeCols(vec: String, rerank: Int): Seq[String]
  /** knn.ivf: the top-k (id, cosine) of query `q` over the pruned corpus */
  def knn(idx: IvfIndex.Opened, pruned: DataFrame, q: Seq[Double], id: String, vec: String,
      k: Int): DataFrame
  /** knn.join: (query_id, corpus_id, cosine) of the (query_id, _qv, cell)
    * rows `qCells` of `queries` over the pruned corpus */
  def pairs(idx: IvfIndex.Opened, queries: DataFrame, qCells: DataFrame, pruned: DataFrame,
      cId: String, vec: String, k: Int): DataFrame
}

private[graft] object IvfLayout {
  type Codebooks = Array[Array[Array[Double]]]
  val Cell = "cell"
  val Nlist = SigParam("nlist", 16L)
  val M = SigParam("m", 8L)
  val Ksub = SigParam("ksub", 256L)
  val Dim = SigParam("dim", 0L)
  val Seed = SigParam("seed", 11L, wide = true)

  /** What an index records beyond its centroids: codebooks (none for
    * flat), parameters in `meta/` order, and the indexed vector column. */
  final case class Stored(codebooks: Codebooks, params: SigParams, vectorColumn: Option[String])
  val NothingStored = Stored(Array.empty, SigParams(Nil), None)

  /** IVF-flat: the corpus is the input rows plus `cell`, probes score the
    * raw vectors of the probed cells exactly. No `meta/`: the centroids
    * are the whole quantizer. */
  object Flat extends IvfLayout("ivf") {
    val corpusCols: Seq[String] = Seq(Cell)
    val maxTrain = 100000L
    def rerank(op: String, cfg: Cfg): Int = {
      if (cfg.has("rerank")) throw new GraftConfigError(
        s"$op: rerank applies only to an ivfpq index (this index is IVF-flat — its probe " +
        "already scores exactly); rebuild with index.build type=ivfpq to get the ADC + rerank path")
      0
    }
    def corpusRows(spark: SparkSession, rows: DataFrame, vec: Column, q: IvfIndex.Quantizer,
        books: Codebooks, guard: Column => Column): DataFrame =
      rows.withColumn(Cell, guard(q.assign(spark, vec)))
    def load(spark: SparkSession, path: String, op: String, q: IvfIndex.Quantizer,
        meta: Option[Row]): Stored =
      Stored(Array.empty, SigParams(Seq(Nlist -> q.nlist.toLong, Seed -> Seed.default)), None)
    def probeCols(vec: String, rerank: Int): Seq[String] = Seq(vec)
    def knn(idx: IvfIndex.Opened, pruned: DataFrame, q: Seq[Double], id: String, vec: String,
        k: Int): DataFrame =
      KnnBruteForceOp.topK(pruned, q, id, vec, k)
    /** each corpus row lives in one cell and a query probes distinct
      * cells, so every pair is scored once */
    def pairs(idx: IvfIndex.Opened, queries: DataFrame, qCells: DataFrame, pruned: DataFrame,
        cId: String, vec: String, k: Int): DataFrame =
      KnnJoinOp.scored(qCells.join(pruned.select(F.col(Cell), F.col(cId).alias("corpus_id"),
        F.col(vec).cast("array<double>").alias("_cv")), Seq(Cell)))
  }

  /** IVFPQ (the faiss layout, see DESIGN_NOTES "The ivfpq layout"): beside
    * the vectors each row stores `pq_codes` (m bytes: the residual to its
    * cell centroid, one codebook entry per subspace) and `pq_vnorm` (the
    * exact norm). Parquet column pruning makes the candidate scan read only
    * (id, cell, codes, norm) — the 4·dim/m I/O win — and the top `rerank`·k
    * candidates re-score exactly on the vector column of the same pruned
    * cells; `rerank = 0` returns the rounded approximate scores. `pq/`
    * holds the m·ksub codebook rows, `meta/` the parameters (`ksub` is the
    * layout marker) and the indexed vector column. */
  object ProductQuantized extends IvfLayout("ivfpq") {
    private val Codes = "pq_codes"
    private val VNorm = "pq_vnorm"
    /** the narrow columns an approximate score reads */
    val codeCols: Seq[String] = Seq(Codes, VNorm)
    val corpusCols: Seq[String] = Cell +: codeCols
    override val tables: Seq[String] = Seq("pq", "meta")
    val maxTrain = 10000L
    override val frozen: Seq[SigParam] = Seq(M, Ksub, Seed)
    /** `meta/` columns before `vector_column` */
    private val metaParams = Seq(Nlist, M, Ksub, Dim, Seed)
    override def marks(fields: Set[String]): Boolean = fields.contains(Ksub.metaField)

    override def problem(cfg: Cfg, dim: Int): Option[String] = {
      val (m, ksub) = (M.of(cfg), Ksub.of(cfg))
      if (m < 1) Some("m must be >= 1")
      else if (ksub < 2 || ksub > 256)
        Some(s"ksub must be in [2, 256] (codes are one byte per subspace), got $ksub")
      else if (dim % m != 0) Some(s"vector dim $dim is not divisible by m=$m subquantizers")
      else None
    }
    def rerank(op: String, cfg: Cfg): Int = {
      val r = cfg.longOr("rerank", 4L).toInt
      if (r < 0) throw new GraftConfigError(
        s"$op: rerank must be >= 0 (0 = return ADC scores unreranked), got $r")
      r
    }
    /** per-subspace codebooks over the residuals of the draw */
    override def codebooks(sample: Array[Array[Double]], centroids: Array[Array[Double]],
        cfg: Cfg, seed: Long): Codebooks = {
      val residuals = sample.map { v =>
        val c = centroids(Pq.nearest(centroids, v))
        Array.tabulate(v.length)(j => v(j) - c(j))
      }
      Pq.trainCodebooks(residuals, M.of(cfg).toInt, Ksub.of(cfg).toInt, Pq.TrainIters, seed)
    }
    /** one encode pass (Pq.encode: cell, codes, norm) over the broadcast
      * centroids and codebooks */
    def corpusRows(spark: SparkSession, rows: DataFrame, vec: Column, q: IvfIndex.Quantizer,
        books: Codebooks, guard: Column => Column): DataFrame = {
      val bcC = spark.sparkContext.broadcast(q.centroids)
      val bcB = spark.sparkContext.broadcast(books)
      val enc = F.udf { v: Seq[Double] => Pq.encode(v.toArray, bcC.value, bcB.value) }
      rows.withColumn("_enc", guard(enc(vec.cast("array<double>"))))
        .withColumn(Cell, F.col("_enc._1"))
        .withColumn(Codes, F.col("_enc._2"))
        .withColumn(VNorm, F.col("_enc._3"))
        .drop("_enc")
    }
    // ksub records the EFFECTIVE codebook size (lloyd clamps to the
    // distinct sample count), so probes and appends see the truth
    override def writeTables(path: String, books: Codebooks, nlist: Int, dim: Int, seed: Long,
        vecCol: String): Unit = {
      val flat = books.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (ctr, code) => (s, code, ctr.toSeq) }
      }.toSeq
      DriverParquet.overwrite(s"$path/pq", Seq(
        DriverParquet.I32("subspace", flat.map(_._1)),
        DriverParquet.I32("code", flat.map(_._2)),
        DriverParquet.DblArr("center", flat.map(_._3))))
      val p = SigParams(Seq(Nlist -> nlist.toLong, M -> books.length.toLong,
        Ksub -> books(0).length.toLong, Dim -> dim.toLong, Seed -> seed))
      DriverParquet.overwrite(s"$path/meta", p.values.map { case (q, v) => q.metaCol(v) } :+
        DriverParquet.Str("vector_column", Seq(vecCol)))
    }
    /** listing-cached like the centroids — a probe loop must not
      * re-collect the m·ksub codebook table per query; read-only */
    def load(spark: SparkSession, path: String, op: String, q: IvfIndex.Quantizer,
        meta: Option[Row]): Stored = {
      val books = IndexMeta.cached(s"$path/pq") {
        val rows = spark.read.parquet(s"$path/pq").select("subspace", "code", "center").collect()
        if (rows.isEmpty) throw new GraftConfigError(
          s"$op: the index at $path has an empty pq/ codebook dir — rebuild with " +
          "index.build type=ivfpq mode=overwrite")
        val books = new Array[Array[Array[Double]]](rows.map(_.getInt(0)).max + 1)
        rows.groupBy(_.getInt(0)).foreach { case (s, rs) =>
          books(s) = rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
        }
        books
      }
      val m = meta.get // the catalog detects this layout by its meta
      // indexes predating the vector_column field indexed "embedding"
      val vec = if (m.schema.fieldNames.contains("vector_column"))
        m.getAs[String]("vector_column") else "embedding"
      Stored(books, SigParams(metaParams.map(q => q -> q.fromMeta(m))), Some(vec))
    }
    override def corpusSchema(id: StructField, vec: StructField): StructType =
      super.corpusSchema(id, vec)
        .add(StructField(Codes, BinaryType)).add(StructField(VNorm, DoubleType))
    def probeCols(vec: String, rerank: Int): Seq[String] =
      codeCols ++ (if (rerank > 0) Seq(vec) else Nil)

    /** The per-query ADC tables, built driver-side: dot(q, centroid[cell])
      * per cell and dot(q_s, codebook[s][code]) per (subspace, code) — a
      * row scores in m byte-indexed lookups over the narrow columns. */
    def knn(idx: IvfIndex.Opened, pruned: DataFrame, q: Seq[Double], id: String, vec: String,
        k: Int): DataFrame = {
      val (cents, books) = (idx.quantizer.centroids, idx.stored.codebooks)
      val qa = q.toArray
      val (dim, m) = (qa.length, books.length)
      val dsub = dim / math.max(1, m) // m = 0 only for the explain placeholder
      val dotQC: Array[Double] = cents.map { c =>
        var d = 0.0; var j = 0
        while (j < dim) { d += qa(j) * c(j); j += 1 }
        d
      }
      val table: Array[Array[Double]] = Array.tabulate(m) { s =>
        books(s).map { ctr =>
          var d = 0.0; var j = 0
          while (j < dsub) { d += qa(s * dsub + j) * ctr(j); j += 1 }
          d
        }
      }
      var qn = 0.0
      qa.foreach(x => qn += x * x)
      val qnorm = math.sqrt(qn)
      val adc = F.udf { (cell: Int, codes: Array[Byte], vnorm: Double) =>
        if (vnorm == 0.0 || qnorm == 0.0) 0.0
        else {
          var dot = dotQC(cell)
          var s = 0
          while (s < m) { dot += table(s)(codes(s) & 0xFF); s += 1 }
          dot / (qnorm * vnorm)
        }
      }
      // narrow scan: id + cell + codes + norm ONLY — parquet column pruning
      // keeps the raw vector bytes unread (PqIndexSpec pins the ReadSchema)
      val scored = pruned.select(F.col(id), F.col(Cell), F.col(Codes), F.col(VNorm))
        .withColumn("_approx", adc(F.col(Cell), F.col(Codes), F.col(VNorm)))
        .orderBy(F.col("_approx").desc, F.col(id).asc)
      if (idx.rerank == 0)
        scored.limit(k).select(F.col(id), F.round(F.col("_approx"), 6).alias("cosine"))
      else {
        // exact cosine on just the candidate ids: the vector column is read
        // only here, broadcast-joined (candidates are tiny)
        val cand = scored.limit(math.min(Int.MaxValue.toLong, idx.rerank.toLong * k).toInt)
          .select(F.col(id))
        KnnBruteForceOp.topK(pruned.select(F.col(id), F.col(vec)).join(F.broadcast(cand), Seq(id)),
          q, id, vec, k)
      }
    }

    /** The batch ADC: the m×ksub table is per QUERY, so a pair's subspace
      * dots run inline (2·dim mults per pair instead of m lookups; they sum
      * in a different order than the per-query table, which is why the two
      * forms stay apart) — the scan-bytes cut is the scale win here. Per
      * query, bounded heaps keep the top rerank·k candidates, which then
      * re-score exactly against the vector column of the same pruned
      * cells; rerank·k ≥ the probed rows reproduces the flat probe. */
    def pairs(idx: IvfIndex.Opened, queries: DataFrame, qCells: DataFrame, pruned: DataFrame,
        cId: String, vec: String, k: Int): DataFrame = {
      val (cents, books) = (idx.quantizer.centroids, idx.stored.codebooks)
      val m = books.length
      val dsub = idx.quantizer.dim / math.max(1, m) // m = 0 only for the explain placeholder
      val approx = F.udf { (qv: Seq[Double], cell: Int, codes: Array[Byte], vnorm: Double) =>
        val qa = qv.toArray
        var qn = 0.0
        var j = 0
        while (j < qa.length) { qn += qa(j) * qa(j); j += 1 }
        if (vnorm == 0.0 || qn == 0.0) 0.0
        else {
          val ctr = cents(cell)
          var dot = 0.0
          j = 0
          while (j < qa.length) { dot += qa(j) * ctr(j); j += 1 }
          var s = 0
          while (s < m) {
            val sub = books(s)(codes(s) & 0xFF)
            var d = 0
            while (d < dsub) { dot += qa(s * dsub + d) * sub(d); d += 1 }
            s += 1
          }
          dot / (math.sqrt(qn) * vnorm)
        }
      }
      val codes = pruned.select(F.col(Cell), F.col(cId).alias("corpus_id"), F.col(Codes),
        F.col(VNorm))
      val approxPairs = qCells.join(codes, Seq(Cell))
        .select(F.col("query_id"), F.col("corpus_id"),
          approx(F.col("_qv"), F.col(Cell), F.col(Codes), F.col(VNorm)).alias("cosine"))
        .filter(F.col("cosine").isNotNull && !F.isnan(F.col("cosine")))
      if (idx.rerank == 0) approxPairs.withColumn("cosine", F.round(F.col("cosine"), 6))
      else {
        val kPrime = math.min(Int.MaxValue.toLong, idx.rerank.toLong * k).toInt
        val cand = KnnJoinOp.heapTopK(approxPairs, kPrime, StructType(Seq(
            StructField("query_id", queries.schema("query_id").dataType),
            StructField("corpus_id", pruned.schema(cId).dataType),
            StructField("cosine", DoubleType))))
          .dropDuplicates("query_id", "corpus_id")
          .select("query_id", "corpus_id")
        val vecs = pruned.select(F.col(cId).alias("corpus_id"),
          F.col(vec).cast("array<double>").alias("_cv"))
        KnnJoinOp.scored(cand.join(vecs, Seq("corpus_id")).join(queries, Seq("query_id")))
      }
    }
  }

  val all: Seq[IvfLayout] = Seq(Flat, ProductQuantized)
  def byName(name: String): Option[IvfLayout] = all.find(_.name == name)
}
