package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.StructField
import graft.config._
import graft.core._

/** The one driver behind every ivf index mode: `index.build type=ivf|ivfpq`
  * (build and frozen-quantizer append) and index.compact's retrain (one
  * writer), knn.ivf and knn.join (one [[open]], one static cell prune),
  * cluster.assign, and the `blocking = "ivf"` cells of dedup.embedding and
  * join.similar (one [[Quantizer]]). Every layout-specific step comes from
  * the [[IvfLayout]] value. */
private[graft] object IvfIndex {
  import IvfLayout.Cell

  /** A coarse quantizer: centroid i is cell i. Every cell decision goes
    * through [[assign]] (a row's nearest cell) or [[probe]] (a query's
    * nearest cells); both rank by the same Pq distance, ties to the lower
    * cell. */
  final class Quantizer(val centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
    def dim: Int = centroids.headOption.fold(0)(_.length)

    /** The nearest cell of each vector of `vec`, rounded to float as the
      * corpus stores it; a null vector gets a null cell. The centroids
      * broadcast once per executor instead of riding every task binary. */
    def assign(spark: SparkSession, vec: Column): Column = {
      val bc = spark.sparkContext.broadcast(centroids)
      val udf = F.udf { v: Seq[Float] =>
        if (v == null) null
        else {
          val arr = new Array[Double](v.length)
          var i = 0
          while (i < arr.length) { arr(i) = v(i).toDouble; i += 1 }
          Int.box(Pq.nearest(bc.value, arr))
        }
      }
      udf(vec.cast("array<float>"))
    }

    /** the `nprobe` nearest cells of query `q`, nearest first */
    def probe(q: Array[Double], nprobe: Int): Array[Int] = Pq.nearestCells(centroids, q, nprobe)

    /** [[probe]] of each query vector (array<double>) of `vec` */
    def probeColumn(vec: Column, nprobe: Int): Column = {
      val cents = centroids
      F.udf { v: Seq[Double] => Pq.nearestCells(cents, v.toArray, nprobe).toSeq }.apply(vec)
    }

    def requireDim(op: String, vectors: String, got: Int, source: String): Unit =
      if (got != dim) throw new GraftConfigError(s"$op: $vectors have length $got but " +
        s"$source has dim = $dim — cell assignments would silently mismatch")
  }

  /** no centroids: every non-null vector lands in cell 0, a query probes nothing */
  val NoQuantizer = new Quantizer(Array.empty)

  /** An ivf index opened for a consumer: the catalog's
    * [[IndexCatalog.Opened]] of an ivf layout with its quantizer and stored
    * tables — no centroids and nothing stored for an explain placeholder.
    * `nprobe`/`rerank` are set for a probe. */
  final class Opened private[IvfIndex] (idx: IndexCatalog.Opened[IvfLayout],
      val quantizer: Quantizer, val stored: IvfLayout.Stored, val nprobe: Int, val rerank: Int) {
    def path: String = idx.path
    def layout: IvfLayout = idx.kind
    /** the corpus vector column: the one the index records, else `fallback` */
    def vectorColumn(fallback: String): String = stored.vectorColumn.getOrElse(fallback)

    /** the corpus directory as one parquet relation, so a static cell
      * predicate prunes it at planning; `id`/`vec` type the placeholder */
    def scan(id: => StructField, vec: => StructField): DataFrame =
      idx.scan(layout.corpusSchema(id, vec))

    /** the `index.build` config that retrains this index: its recorded
      * parameters, `seed`/`max_train`/`vector_column` overridable by `cond` */
    def rebuildConfig(cond: Cfg): Seq[(String, Any)] =
      Seq[(String, Any)]("type" -> layout.name, "path" -> path,
        "vector_column" -> vectorColumn(cond.strOr("vector_column", "embedding")),
        "max_train" -> cond.longOr("max_train", layout.maxTrain)) ++
      stored.params.values.collect {
        case (IvfLayout.Seed, v) => "seed" -> cond.longOr("seed", v)
        case (q, v) if q != IvfLayout.Dim => q.key -> v
      }
  }

  /** `nprobe` of a probe, checked */
  def nprobe(op: String, cfg: Cfg): Int = {
    val n = cfg.longOr("nprobe", 4L).toInt
    if (n < 1) throw new GraftConfigError(s"$op: nprobe must be >= 1, got $n")
    n
  }

  /** The one quantizer trainer: the `nlist` check, the seeded uniform draw
    * of `vec` (at most `max_train` rows, default `maxTrain`) and Lloyd's —
    * driver-side work bounded by the draw at any corpus size. Returns the
    * draw with the quantizer, or None when no non-null vector was drawn. */
  def train(op: String, df: DataFrame, vec: Column, cfg: Cfg, maxTrain: Long,
      seed: Long): Option[(Array[Array[Double]], Quantizer)] = {
    val nlist = IvfLayout.Nlist.of(cfg).toInt
    if (nlist < 1) throw new GraftConfigError(s"$op: nlist must be >= 1, got $nlist")
    val sample = Pq.trainSample(df, vec, cfg.longOr("max_train", maxTrain).toInt, seed)
    if (sample.isEmpty) None
    else Some((sample, new Quantizer(Pq.lloyd(sample, nlist, Pq.TrainIters, seed))))
  }

  /** The quantizer behind `blocking = "ivf"`: the frozen one of the index at
    * `quantizer_path` (cells consistent with cluster.assign tags and every
    * probe of that index), else one trained on the `vec` column of `draw`
    * (default seed `seed`). No drawable vector means nothing to pair. */
  def blockingQuantizer(ctx: StageContext, op: String, draw: DataFrame, vec: Column,
      seed: Long, vectors: String, batchDim: Option[Int]): Quantizer =
    ctx.cfg.strOpt("quantizer_path") match {
      case Some(p) => open(ctx, s"$op blocking=ivf", p, vectors, _ => batchDim).quantizer
      case None =>
        train(op, draw, vec, ctx.cfg, 10000L, ctx.cfg.longOr("seed", seed))
          .fold(NoQuantizer)(_._2)
    }

  /** Open the ivf index at `path` for `op` through the catalog (as one of
    * the kinds `expected` accepts), then the ivf steps: the tables and the
    * listing-cached centroids, the `nprobe`/`rerank` checks of a probe
    * (`probes`), and the batch-vs-index dim check — the batch's vector
    * length, `batchDim` of the opened index, named `vectors` in the error
    * (skipped under explain). */
  def open(ctx: StageContext, op: String, path: String, vectors: String = "vectors",
      batchDim: Opened => Option[Int] = _ => None, probes: Boolean = false,
      expected: IndexCatalog.Expected[IvfLayout] = IndexCatalog.Ivf): Opened = {
    val (cfg, spark) = (ctx.cfg, ctx.spark)
    val idx = IndexCatalog.open(ctx, op, path, expected)
    val layout = idx.kind
    val (n, r) = if (probes) (nprobe(op, cfg), layout.rerank(op, cfg)) else (0, 0)
    if (idx.placeholder) return new Opened(idx, NoQuantizer, IvfLayout.NothingStored, n, r)
    layout.tables.filterNot(t => GraftFs.isDir(s"$path/$t")).foreach(t =>
      throw new GraftConfigError(s"$op: the ${layout.name} index at $path has no $t/ " +
        s"(a crashed build?) — rebuild with index.build type=${layout.name} mode=overwrite"))
    // listing-keyed cached (IndexMeta): probe loops re-read a table only a
    // rebuild can change; read-only. An empty table would silently degrade
    // every probe to dim 0 — fail loud instead.
    val q = new Quantizer(IndexMeta.cached(s"$path/centroids") {
      val rows = spark.read.parquet(s"$path/centroids").select("cell", "centroid").collect()
      if (rows.isEmpty) throw new GraftConfigError(s"$op: the index at $path has no " +
        s"centroids — rebuild with index.build type=${layout.name} mode=overwrite")
      rows.sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    })
    val opened = new Opened(idx, q, layout.load(spark, path, op, q, idx.meta), n, r)
    if (!cfg.boolOr("_explain_only", false))
      batchDim(opened).foreach(q.requireDim(op, vectors, _, s"the index at $path"))
    opened
  }

  /** `corpus` restricted to `cells` by one static `cell IN (...)`
    * predicate — on a cell-partitioned scan, partition pruning reads only
    * the probed cells' files. No cells: no rows. */
  def prune(corpus: DataFrame, cells: Seq[Int]): DataFrame =
    if (cells.isEmpty) corpus.filter(F.lit(false))
    else corpus.filter(F.col(Cell).isin(cells.map(_.asInstanceOf[Any]): _*))

  /** Same-cell candidate pairs (`<id>_<a>`, `<id>_<b>`) of two (id, cell)
    * frames; `self` keeps a < b. A row has one cell, so each pair arises
    * once; a null cell pairs with nothing. */
  def cellPairs(left: DataFrame, right: DataFrame, id: String, a: String, b: String,
      self: Boolean): DataFrame = {
    val (idA, idB) = (s"${id}_$a", s"${id}_$b")
    val joined = left.select(F.col(Cell), F.col("id").alias(idA))
      .join(right.select(F.col(Cell), F.col("id").alias(idB)), Seq(Cell))
    (if (self) joined.filter(F.col(idA) < F.col(idB)) else joined).select(idA, idB)
  }

  /** `index.build type=ivf|ivfpq`. mode=overwrite trains the quantizer (and
    * the layout's codebooks) on a bounded draw, writes the cell-partitioned
    * corpus, then the centroids and the layout's tables. mode=append reuses
    * the FROZEN quantizer of the existing index — retraining would fork the
    * cell (and code) space under the rows already written — so old and new
    * rows share one cell space; rebuild to retrain. A null vector fails the
    * write job with a GraftConfigError naming the column (the guard rides
    * the assignment projection, no extra job). */
  def build(ctx: StageContext, layout: IvfLayout, op: String, path: String, mode: String,
      existing: Boolean): Unit = {
    val (cfg, spark) = (ctx.cfg, ctx.spark)
    val seed = IvfLayout.Seed.of(cfg)
    layout.corpusCols.find(ctx.primary.columns.contains).foreach(c =>
      throw new GraftConfigError(s"$op: input already has a '$c' column — rename it; the " +
        s"index layout reserves ${layout.corpusCols.mkString("/")}"))
    val (what, q, books, vecCol) =
      if (mode == "append") {
        val what = s"$op mode=append"
        if (!existing) throw new GraftConfigError(s"$what: no existing index at $path — the " +
          "quantizer is frozen at first build (appends reuse it so cells stay consistent); " +
          "run mode=overwrite first")
        // the indexed vector column is a fact of the index; explicit config
        // may rename the INPUT's column
        def vecOf(idx: Opened) = cfg.strOpt("vector_column").getOrElse(idx.vectorColumn("embedding"))
        val idx = open(ctx, what, path, "input vectors",
          i => LshIndex.firstDim(ctx.primary, F.col(vecOf(i))))
        layout.frozen.foreach { p =>
          val recorded = idx.stored.params(p)
          cfg.longOpt(p.key).filter(_ != recorded).foreach(
            IndexCatalog.conflict(what, path, p.key, _, recorded))
        }
        (what, idx.quantizer, idx.stored.codebooks, vecOf(idx))
      } else {
        val vecCol = cfg.strOr("vector_column", "embedding")
        val (sample, q) = train(op, ctx.primary, F.col(vecCol), cfg, layout.maxTrain, seed)
          .getOrElse(throw new GraftPlanError(s"$op: empty input, nothing to train the quantizer on"))
        layout.problem(cfg, q.dim).foreach(m => throw new GraftConfigError(s"$op: $m"))
        (op, q, layout.codebooks(sample, q.centroids, cfg, seed), vecCol)
      }
    val guard = (assigned: Column) => RowGuard.failIf(F.col(vecCol).isNull,
      F.lit(s"$what: null vector in column '$vecCol' — an ivf index has no cell for it; drop " +
      "or fill the null rows first"), assigned)
    IndexSnapshot.write(layout.corpusRows(spark, ctx.primary, F.col(vecCol), q, books, guard),
      IndexSnapshot.corpusDir(path), mode, layout.partitionCols)
    if (mode == "overwrite") {
      // nlist driver-held rows (+ the layout's bounded tables) — driver-side
      // parquet writes, no Spark job
      DriverParquet.overwrite(s"$path/centroids", Seq(
        DriverParquet.I32(Cell, q.centroids.indices),
        DriverParquet.DblArr("centroid", q.centroids.map(_.toSeq).toSeq)))
      layout.writeTables(path, books, IvfLayout.Nlist.of(cfg).toInt, q.dim, seed, vecCol)
    }
    // cell-skew advisory after every write, append included: occupancy is a
    // property of the total; guidance never fails a build
    try Pq.cellSkewWarning(what, Pq.cellOccupancy(IndexSnapshot.corpusDir(path)).values,
      q.nlist).foreach(System.err.println)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] $what cell-skew check skipped: ${e.getMessage}") }
  }

  /** The cell skew of the opened index (see Pq.cellSkew) from its parquet
    * footers; None for an empty corpus. nlist comes from the centroids,
    * NOT the populated-cell count: a fully collapsed quantizer must read
    * as maximal skew (= nlist). */
  def cellSkew(idx: Opened): Option[Double] =
    Pq.cellSkew(Pq.cellOccupancy(IndexSnapshot.corpusDir(idx.path)).values,
      idx.quantizer.nlist)

  /** ivfpq only: vector-column bytes / code-column bytes over the corpus
    * `files` footers — the bytes a flat probe reads per byte an ADC probe
    * reads. */
  def pqScanRatio(idx: Opened, files: Seq[String]): Option[Double] =
    Some(idx.layout).filter(_ == IvfLayout.ProductQuantized && files.nonEmpty).flatMap { _ =>
      val vecBytes = Pq.columnChunkBytes(files, Set(idx.vectorColumn("embedding")))
      val codeBytes = Pq.columnChunkBytes(files, IvfLayout.ProductQuantized.codeCols.toSet)
      if (codeBytes <= 0L) None else Some(math.round(vecBytes.toDouble / codeBytes * 10) / 10.0)
    }
}
