package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types.StructField
import graft.config._
import graft.core._
import graft.functions.GraftFunctions

/** The one driver behind every hyperplane-LSH index mode: `index.build
  * type=lsh` and dedup.embedding's `index_append` (one writer), the
  * dedup.embedding, join.similar and knn.join index probes (one [[open]],
  * one probe join), knn.lsh's literal partition predicates, and the
  * batch self-pairs of dedup.embedding and join.similar. Every
  * layout-specific step comes from the [[LshLayout]] value. */
private[graft] object LshIndex {

  /** A top-k probe's reach: the keys within Hamming distance `hamming` of
    * the query's, at the first `keys` key positions. */
  final case class Reach(hamming: Int, keys: Int)

  /** An lsh index opened for probing: the catalog's [[IndexCatalog.Opened]]
    * of an lsh layout, with the layout's corpus schema and signature. */
  final class Opened private[LshIndex] (idx: IndexCatalog.Opened[LshLayout]) {
    def op: String = idx.op
    def layout: LshLayout = idx.kind
    def params: SigParams = idx.params
    def signature(vec: Column, ndExplode: Boolean = false): Column =
      layout.signature(vec, params, ndExplode)

    /** [[LshIndex.dimGuard]] against the index dim — the per-row form of
      * [[open]]'s one-row check; the error names `vec` `vectors`. */
    def dimGuard(vec: Column, vectors: String): Column => Column = {
      val (before, after) = dimMessage(idx.op, vectors, idx.path, layout.dim(params))
      LshIndex.dimGuard(vec, layout.dim(params), before, after)
    }

    /** SNAPSHOT of the corpus file list (see IndexSnapshot), partition
      * columns recovered; `excludeTag` skips a streaming batch's own earlier
      * attempt. `id`/`vec` type the empty placeholder. */
    def corpus(id: StructField, vec: StructField, excludeTag: Option[String] = None): DataFrame =
      idx.corpus(layout.corpusSchema(id, vec), basePath = true,
        excludeDir = for (t <- excludeTag; c <- layout.tagCol) yield s"$c=$t")

    /** The corpus directory as one parquet relation, for a scan whose
      * literal partition predicates prune it at planning. */
    def scan(id: StructField, vec: StructField): DataFrame = idx.scan(layout.corpusSchema(id, vec))
  }

  /** `probe_hamming` / `probe_bands` of a top-k probe, checked against
    * layout `l` with parameters `p` */
  def reach(op: String, cfg: Cfg, l: LshLayout, p: SigParams): Reach = {
    val (n, w) = (l.keyCount(p), l.keyBits(p))
    if (!l.boundable && cfg.has("probe_bands")) throw new GraftConfigError(
      s"$op: probe_bands applies only to a bands-layout index (index.build type=lsh " +
      s"blocking=bands) — this index uses the ${l.name} layout, whose scan has no " +
      "×bands amplification to bound")
    val d = cfg.longOr("probe_hamming", 0L).toInt
    if (d < 0 || d > w) throw new GraftConfigError(
      s"$op: probe_hamming must be in [0, $w] (${l.keyBitsName}), got $d")
    val j = cfg.longOr("probe_bands", n.toLong).toInt
    if (j < 1 || j > n) throw new GraftConfigError(
      s"$op: probe_bands must be in [1, $n] (the index's band count), got $j")
    Reach(d, j)
  }

  /** Open the lsh index at `path` for `op` through the catalog, which
    * rejects another kind's index and a signature parameter that conflicts
    * with the meta. An explicit `blocking` or a batch vector length
    * (`batchDim`, named `vectors` in the error) that conflicts with the
    * index fails loud too — mixed signatures would silently miss every
    * cross match. The dim check is skipped under explain (no upstream
    * jobs); a caller passing no `batchDim` checks rows itself
    * ([[Opened.dimGuard]]). */
  def open(ctx: StageContext, op: String, path: String, d: LshDefaults, vectors: String,
      batchDim: => Option[Int]): Opened = {
    GraftFunctions.ensureRegistered(ctx.spark)
    val cfg = ctx.cfg
    val idx = IndexCatalog.open(ctx, op, path, IndexCatalog.Lsh(d))
    val (l, p) = (idx.kind, idx.params)
    if (!idx.placeholder) {
      cfg.strOpt("blocking").filter(_ != l.name).foreach(b => throw new GraftConfigError(
        s"$op: blocking = $b conflicts with the index at $path, which is " +
        s"${l.name}-partitioned — the index layout decides the probe blocking"))
      if (!cfg.boolOr("_explain_only", false))
        batchDim.filter(_ != l.dim(p)).foreach { bd =>
          val (before, after) = dimMessage(op, vectors, path, l.dim(p))
          throw new GraftConfigError(s"$before$bd$after")
        }
    }
    new Opened(idx)
  }

  /** the dim-mismatch message around the batch vector length */
  private def dimMessage(op: String, vectors: String, path: String, dim: Int): (String, String) =
    (s"$op: $vectors have length ",
      s" but the index at $path was built with dim = $dim — signatures would silently mismatch")

  /** Wraps a value computed from `vec` so that a row whose non-null `vec`
    * is not `dim` long fails the job with `before` <its length> `after`
    * (RowGuard.failIf): every row checked inside a projection the caller
    * already runs, no job of its own. */
  def dimGuard(vec: Column, dim: Int, before: String, after: String): Column => Column =
    RowGuard.failIf(vec.isNotNull && F.size(vec) =!= dim,
      F.concat(F.lit(before), F.size(vec).cast("string"), F.lit(after)), _)

  /** Length of the first non-null vector of `vec` — one single-row job. */
  def firstDim(df: DataFrame, vec: Column): Option[Int] =
    df.select(F.size(vec).as("_sz")).filter(F.col("_sz") >= 0)
      .head(1).headOption.map(_.getInt(0))

  /** `carry` plus one (position, key) row per key of the signature `sig` */
  def keyed(l: LshLayout, p: SigParams, df: DataFrame, sig: Column,
      carry: Seq[Column]): DataFrame =
    df.select(carry :+ F.posexplode(l.keys(sig, p)).as(Seq(l.posCol, l.keyCol)): _*)

  /** [[keyed]] rows plus the partition dir key — the batch side of a probe;
    * a top-k `reach` first bounds the positions and widens each key to
    * its Hamming neighbourhood (an explode, so the join stays an equi-join
    * on pruned partitions). */
  def probeKeys(l: LshLayout, p: SigParams, df: DataFrame, sig: Column, carry: Seq[Column],
      reach: Option[Reach] = None): DataFrame = {
    val exploded = keyed(l, p, df, sig, carry)
    val rows = reach.fold(exploded) { r =>
      val bounded =
        if (r.keys < l.keyCount(p)) exploded.filter(F.col(l.posCol) < r.keys) else exploded
      if (r.hamming == 0) bounded
      else {
        val (bits, d) = (l.keyBits(p), r.hamming)
        val neighbourhood = F.udf((k: Long) => LshLayout.within(k, bits, d))
        bounded.withColumn(l.keyCol, F.explode(neighbourhood(F.col(l.keyCol))))
      }
    }
    rows.withColumn(l.dirCol, (F.col(l.keyCol) % l.dirs(p)).cast("int"))
  }

  /** Blocked candidate pairs (`<id>_<a>`, `<id>_<b>`) of two (id, sig)
    * frames: rows sharing a (position, key), then the layout's prefilter
    * on (`sig_<a>`, `sig_<b>`); `self` keeps a < b. Candidates stay narrow
    * (ids + signatures), vectors re-attach only to the survivors at the
    * caller's verify. */
  def candidates(l: LshLayout, p: SigParams, left: DataFrame, right: DataFrame, id: String,
      a: String, b: String, threshold: Double, self: Boolean): DataFrame = {
    val pre = l.prefilter(p, threshold)
    val (idA, idB) = (s"${id}_$a", s"${id}_$b")
    def side(df: DataFrame, s: String) = keyed(l, p, df, F.col("sig"),
      F.col("id").alias(s"${id}_$s") +: pre.map(_ => F.col("sig").alias(s"sig_$s")).toSeq)
    val joined = side(left, a).join(side(right, b), Seq(l.posCol, l.keyCol))
    val paired = if (self) joined.filter(F.col(idA) < F.col(idB)) else joined
    pre.fold(paired)(f => paired.filter(f(F.col(s"sig_$a"), F.col(s"sig_$b"))))
      .select(idA, idB).dropDuplicates(idA, idB)
  }

  /** THE probe join: batch rows (id, vec, sig) ⋈ the corpus partitions
    * their keys hit, the layout's prefilter (index-side signatures are
    * recomputed only for the rows those partitions hold), then exact
    * cosine ≥ threshold → (id_l, id_r, cosine), one row per colliding key.
    * The batch (the small side) carries its vector through the join: no
    * candidate dedup exchange, no re-attach joins. The dir key in the join
    * is redundant given the exact key, but it is the PARTITION column —
    * pruning skips index dirs the batch never hits. */
  def crossPairs(idx: Opened, sigs: DataFrame, corpus: DataFrame, rId: String,
      rVec: String, threshold: Double): DataFrame = {
    val (l, p) = (idx.layout, idx.params)
    val pre = l.prefilter(p, threshold)
    val batch = probeKeys(l, p, sigs, F.col("sig"), Seq(F.col("id").alias("id_l")) ++
      pre.map(_ => F.col("sig").alias("sig_l")) :+ F.col("vec").alias("v_l"))
    val index = corpus.select(l.joinCols.map(F.col) ++
      Seq(F.col(rId).alias("id_r"), F.col(rVec).alias("v_r")): _*)
    val joined = batch.join(
      if (pre.isEmpty) index else index.withColumn("sig_r", idx.signature(F.col("v_r"))),
      l.joinCols)
    pre.fold(joined)(f => joined.filter(f(F.col("sig_l"), F.col("sig_r"))))
      .withColumn("cosine", DedupEmbeddingOp.cosine(
        F.col("v_l").cast("array<double>"), F.col("v_r").cast("array<double>")))
      .filter(F.col("cosine") >= threshold)
  }

  /** Corpus rows of `rows`: one per key position, with the partition
    * columns (`tag` fills the tag level). A null vector fails the write
    * job with a GraftConfigError naming the column — the guard rides this
    * projection, no extra job. The signature is marked non-deterministic
    * here (see DedupEmbeddingOp.hyperplaneSig): nothing is persisted
    * between it and the explode. */
  def corpusRows(l: LshLayout, p: SigParams, rows: DataFrame, vecCol: String, op: String,
      tag: String): DataFrame = {
    val sig = RowGuard.failIf(F.col(vecCol).isNull,
      F.lit(s"$op: null vector in column '$vecCol' — an lsh index has no key for it; drop " +
      "or fill the null rows first"), l.signature(F.col(vecCol), p, ndExplode = true))
    val keyedRows = probeKeys(l, p, rows.withColumn("_sig", sig), F.col("_sig"),
      Seq(F.col("*"))).drop("_sig")
    l.tagCol.fold(keyedRows)(keyedRows.withColumn(_, F.lit(tag)))
  }

  /** `index.build type=lsh` — each row's signature keys write it once PER
    * key position into the layout's partition dirs, and `meta/` records
    * the parameters so probes regenerate identical signatures and dir
    * keys. mode=append must extend the EXISTING layout and signature
    * space: the catalog rejects another kind's index or the other layout,
    * and other parameters fail loud here, before anything is written. */
  def build(ctx: StageContext, l: LshLayout, op: String, path: String, mode: String,
      existing: Option[IndexCatalog.Opened[IndexKind]]): Unit = {
    val cfg = ctx.cfg
    val vecCol = cfg.strOr("vector_column", "embedding")
    val d = LshDefaults()
    val unsized = l.fromConfig(cfg, d, 0)
    l.problem(unsized, d, indexed = true).foreach(m => throw new GraftConfigError(s"$op: $m"))
    val dim = firstDim(ctx.primary, F.col(vecCol)).getOrElse(
      throw new GraftPlanError(s"$op: empty input, cannot infer dim"))
    val p = unsized.updated(LshLayout.Dim, dim)
    existing.foreach(_.requireParams(p))
    val corpus = IndexSnapshot.corpusDir(path)
    IndexSnapshot.write(corpusRows(l, p, ctx.primary, vecCol, op, "base"), corpus, mode,
      l.partitionCols)
    // one-row table the driver already holds — no Spark job
    DriverParquet.overwrite(s"$path/meta", l.metaCols(p))
    // occupancy guidance (BENCH_NOTES r11 ANN rungs): a corpus that
    // outgrows its key space quietly turns probes into scans. The row
    // count is a bounded footer-sample estimate (IndexSnapshot
    // .footerRowsEstimate) — driver-side metadata, no job — and covers
    // append mode too, since occupancy is a property of the total.
    try l.advice(p, IndexSnapshot.footerRowsEstimate(
        IndexSnapshot.filesWithLen(corpus, s"index.build: no corpus at $path")))
      .foreach(System.err.println)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] index.build occupancy check skipped: ${e.getMessage}") }
  }

  /** The parameters of layout `l` a stage without an index configures, checked. */
  def configured(op: String, cfg: Cfg, d: LshDefaults, l: LshLayout, dim: Int): SigParams = {
    val p = l.fromConfig(cfg, d, dim)
    l.problem(p, d, indexed = false).foreach(m => throw new GraftConfigError(s"$op: $m"))
    p
  }
}
