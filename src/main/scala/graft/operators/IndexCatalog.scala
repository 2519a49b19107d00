package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.config._
import graft.core._

/** One kind of `index.build` index: how its `meta/` marks it, the
  * parameters that meta records, its corpus partition columns and its
  * build. The kinds are the text families ([[TextSigFamily]]), the lsh
  * layouts ([[LshLayout]]), the ivf layouts ([[IvfLayout]]) and
  * [[ExactIndex]]; [[IndexCatalog]] is the one code that decides which
  * kind sits at a path. */
private[graft] trait IndexKind {
  /** the `index.build` type that writes this kind — index.stats and every
    * error name the kind so */
  def indexType: String
  /** how a mode=append error names an index of this kind, and the
    * index.build settings that extend it */
  def describe: String = s"a $indexType index"
  def buildConfig: String = s"type=$indexType"
  /** whether the fields of an index's `meta/` row mark this kind */
  def marks(fields: Set[String]): Boolean
  def partitionCols: Seq[String]
  /** the parameters `meta/` records; an explicit config value that
    * contradicts one fails every consumer's open */
  def recorded(meta: Row): SigParams = SigParams(Nil)
  /** the kinds a mode=append onto this kind may find at its path */
  def family: IndexCatalog.Expected[IndexKind]
  /** `index.build` of this kind at `path`; `mode` is overwrite or append,
    * and `existing` is the index a mode=append extends, opened by the
    * catalog as this kind (the build checks its own parameters against it) */
  def build(ctx: StageContext, op: String, path: String, mode: String,
      existing: Option[IndexCatalog.Opened[IndexKind]]): Unit
}

/** `type = "exact"` — the exact-dedup key set: distinct 128-bit md5
  * content keys over `columns` (DedupExactOp.contentKey), which `meta/`
  * records, for `dedup.exact index_path = ...` — a new batch drops
  * already-ingested rows via one anti-join on narrow keys, never
  * re-reading old data. */
private[graft] object ExactIndex extends IndexKind {
  private val Columns = "columns"
  val indexType = "exact"
  val partitionCols: Seq[String] = Nil
  val corpusSchema: StructType = StructType(Seq(StructField("key", StringType)))
  def marks(fields: Set[String]): Boolean = fields.contains(Columns)
  def family: IndexCatalog.Expected[IndexKind] = IndexCatalog.Exact

  /** the content columns of `ctx` (`columns`, default every input column),
    * which must be the ones the opened index `idx` was built over */
  def columns(ctx: StageContext, idx: Option[IndexCatalog.Opened[IndexKind]]): Seq[String] = {
    val cols = ctx.cfg.strListOr(Columns, ctx.primary.columns.toVector)
    for (i <- idx; m <- i.meta; built = m.getSeq[String](m.fieldIndex(Columns)) if built != cols)
      IndexCatalog.conflict(i.op, i.path, Columns, cols.mkString(", "), built.mkString(", "))
    cols
  }

  def build(ctx: StageContext, op: String, path: String, mode: String,
      existing: Option[IndexCatalog.Opened[IndexKind]]): Unit = {
    val cols = columns(ctx, existing)
    ctx.primary.select(DedupExactOp.contentKey(cols).alias("key")).distinct()
      .write.mode(mode).parquet(IndexSnapshot.corpusDir(path))
    DriverParquet.overwrite(s"$path/meta", Seq(DriverParquet.StrArr(Columns, Seq(cols))))
  }
}

/** The one module that decides which kind of index sits at a path: one
  * detection (the listing-cached `meta/` row, else `centroids/` for an
  * ivf-flat index, which has no meta), one [[open]] every consumer
  * resolves its index through, and one `index.build` entry ([[build]]). */
private[graft] object IndexCatalog {

  /** What a consumer opens: the kinds it accepts, named `noun` (article
    * included) in the errors, the hint a wrong-kind error ends with, the
    * kind and parameters an explain placeholder assumes (None: a missing
    * index fails under explain too), and the config key each recorded
    * parameter is checked under. */
  final case class Expected[+K <: IndexKind](noun: String, kinds: Seq[K],
      placeholder: Option[Cfg => (K, SigParams)], hint: Option[String] = None,
      configKey: SigParam => String = (q: SigParam) => q.key) {
    def types: String = kinds.map(_.indexType).distinct.mkString("|")
  }

  def Text(f: TextSigFamily): Expected[TextSigFamily] =
    Expected(s"a ${f.name}", Seq(f), Some(cfg => (f, f.fromConfig(cfg))))
  def Lsh(d: LshDefaults): Expected[LshLayout] = Expected("an lsh", LshLayout.all, Some { cfg =>
    val l = LshLayout.byName(cfg.strOr("blocking", "pigeonhole")).getOrElse(LshLayout.Pigeonhole)
    (l, l.fromConfig(cfg, d, cfg.longOr("dim", 0L).toInt))
  }, configKey = d.key)
  val Ivf: Expected[IvfLayout] = Expected("an ivf/ivfpq", IvfLayout.all, Some(cfg =>
    (IvfLayout.byName(cfg.strOr("index_type", "ivf")).getOrElse(IvfLayout.Flat), SigParams(Nil))))
  /** knn.join's: either vector kind, the placeholder typed by `index_type` */
  val Vector: Expected[IndexKind] = Expected("a vector", LshLayout.all ++ IvfLayout.all, Some(cfg =>
    cfg.strOr("index_type", "lsh") match {
      case "lsh" => Lsh(LshDefaults()).placeholder.get(cfg)
      case "ivf" | "ivfpq" => Ivf.placeholder.get(cfg)
      case other => throw new GraftConfigError(
        s"knn.join: index_type must be lsh|ivf|ivfpq, got '$other'")
    }), hint = Some("use an index built with index.build type=lsh, ivf or ivfpq"))
  val Exact: Expected[IndexKind] = Expected("a exact", Seq(ExactIndex),
    Some(_ => (ExactIndex, SigParams(Nil))))
  /** every kind, for the maintenance verbs */
  lazy val Any: Expected[IndexKind] = Expected("any", kinds, None)

  /** every kind a `meta/` row can mark, in detection order (a bands meta
    * also carries the pigeonhole marker), then ivf-flat */
  private lazy val kinds: Seq[IndexKind] = Seq(LshLayout.Bands, LshLayout.Pigeonhole) ++
    TextSigFamily.all ++ Seq(IvfLayout.ProductQuantized, ExactIndex, IvfLayout.Flat)

  /** An index [[open]] resolved: its kind, the parameters its `meta/`
    * records and the meta row (None for ivf-flat) — or, under CLI explain
    * of a pipeline whose EARLIER index.build stage would have created it
    * (the barrier is skipped under explain), the placeholder kind with the
    * config's parameters over an empty corpus. */
  final case class Opened[+K <: IndexKind](spark: SparkSession, op: String, path: String,
      kind: K, params: SigParams, meta: Option[Row], placeholder: Boolean) {
    /** SNAPSHOT of the corpus file list now (see IndexSnapshot): parquet
      * dir reads re-list at execution, so an index_append firing before the
      * result is consumed would otherwise let a batch match ITSELF.
      * `excludeDir` skips a streaming batch's own earlier attempt; `schema`
      * types an empty corpus and the placeholder. */
    def corpus(schema: StructType, basePath: Boolean = false,
        excludeDir: Option[String] = None): DataFrame =
      if (placeholder) empty(schema)
      else IndexSnapshot.read(spark, IndexSnapshot.corpusDir(path),
        s"$op: the index at $path has no corpus (a crashed build?)", schema, basePath, excludeDir)

    /** the corpus directory as one parquet relation, for a scan whose
      * literal partition predicates prune it at planning */
    def scan(schema: => StructType): DataFrame =
      if (placeholder) empty(schema) else spark.read.parquet(IndexSnapshot.corpusDir(path))

    private def empty(schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

    /** a mode=append's parameter check: the build's `p` must be the
      * recorded parameters, or the corpus would mix incompatible signatures */
    def requireParams(p: SigParams): Unit = params.values.foreach { case (q, v) =>
      if (p(q) != v) conflict(op, path, q.key, p(q), v)
    }
  }

  def conflict(op: String, path: String, key: String, configured: Any, recorded: Any): Nothing =
    throw new GraftConfigError(s"$op: $key = $configured conflicts with the index at $path " +
      s"($key = $recorded) — cross matches would silently miss")

  /** The kind of the index at `path` with its `meta/` row (one
    * listing-cached read: a probe loop or a stream's micro-batches re-read
    * it from memory), or None when no index is there. A `meta/` no kind
    * marks fails loud. */
  private def kindAt(spark: SparkSession, op: String, path: String): Option[(IndexKind, Option[Row])] =
    if (GraftFs.isDir(s"$path/meta")) {
      val meta = IndexMeta.head(spark, s"$path/meta")
      val fields = meta.schema.fieldNames.toSet
      Some((kinds.find(_.marks(fields)).getOrElse {
        if (LshLayout.legacy(fields)) throw new GraftConfigError(
          s"$op: the index at $path predates the (block, pbucket) layout — rebuild it with " +
          "index.build type=lsh mode=overwrite")
        throw new GraftPlanError(
          s"$op: unrecognized index meta at $path (fields: ${fields.mkString(", ")})")
      }, Some(meta)))
    } else if (GraftFs.isDir(s"$path/centroids")) Some((IvfLayout.Flat, None))
    else None

  /** `found` as one of the kinds `e` accepts; another kind fails loud */
  def accept[K <: IndexKind](op: String, path: String, found: IndexKind, e: Expected[K]): K =
    e.kinds.find(_ == found).getOrElse(throw new GraftConfigError(
      s"$op: the index at $path is a ${found.indexType} index, not ${e.noun} index — " +
      e.hint.getOrElse(s"use an index built with index.build type=${e.types}")))

  /** Open the index at `path` for `op`, as one of the kinds `e` accepts:
    * the explain placeholder, the listing-cached meta read, detection, the
    * missing-index and wrong-kind errors, and the check that no explicit
    * config value contradicts a recorded parameter (mixed parameters
    * would silently miss every cross match). */
  def open[K <: IndexKind](ctx: StageContext, op: String, path: String, e: Expected[K]): Opened[K] = {
    val cfg = ctx.cfg
    kindAt(ctx.spark, op, path) match {
      case None => e.placeholder.filter(_ => cfg.boolOr("_explain_only", false)) match {
        case Some(assume) =>
          val (k, p) = assume(cfg)
          Opened(ctx.spark, op, path, k, p, None, placeholder = true)
        case None => throw new GraftPlanError(
          s"$op: no index at $path — run index.build type=${e.types} first")
      }
      case Some((found, meta)) =>
        val k = accept(op, path, found, e)
        val p = meta.fold(SigParams(Nil))(k.recorded)
        p.values.foreach { case (q, v) =>
          cfg.longOpt(e.configKey(q)).filter(_ != v).foreach(conflict(op, path, e.configKey(q), _, v))
        }
        Opened(ctx.spark, op, path, k, p, meta, placeholder = false)
    }
  }

  /** `index.build`: the one mode check, the writer lease, the generation
    * reset, the append precheck (an existing index must be of the kind
    * being appended; a corpus without meta cannot be checked), then the
    * kind's build. */
  def build(ctx: StageContext): Unit = {
    val cfg = ctx.cfg
    val mode = cfg.strOr("mode", "overwrite")
    if (mode != "overwrite" && mode != "append") throw new GraftConfigError(
      s"index.build: mode must be overwrite|append, got '$mode'")
    val kind = cfg.strOr("type", "ivf") match {
      case "lsh" =>
        val b = cfg.strOr("blocking", "pigeonhole")
        LshLayout.byName(b).getOrElse(throw new GraftConfigError(
          s"index.build type=lsh: blocking must be pigeonhole|bands, got '$b'"))
      case t => kinds.find(_.indexType == t).getOrElse(throw new GraftConfigError(
        s"index.build type must be ivf|ivfpq|lsh|minhash|ngram|simhash|exact, got '$t'"))
    }
    val path = cfg.str("path")
    val op = s"index.build type=${kind.indexType}"
    // BOTH modes claim the shared writer lease. Append is the same
    // batch-appender class as the dedup index_append fires (its write
    // must not land inside a concurrent compact's rewrite window).
    // Overwrite is a REBUILD by explicit intent — but rebuilding an index
    // a live stream is appending to, or whose compact is mid-rewrite, is
    // the same corruption class (resetGenerations would delete the
    // compact's in-progress generation, and the compact's later pointer
    // commit would alias the fresh corpus to a deleted dir) — so it too
    // must fail loud while another writer is live.
    graft.streaming.IngestLease.withBatchLease(path, s"index.build mode=$mode") {
      // a rebuild invalidates the recorded compacted generation (index.stats
      // would otherwise count the fresh corpus as zero appends-since-compact)
      // AND any generation-pointer state (the fresh corpus writes to the
      // classic dir; a surviving pointer would alias it to a stale gen)
      if (mode == "overwrite") {
        GraftFs.deleteIfExists(s"$path/compact.gen")
        IndexSnapshot.resetGenerations(path)
      }
      // the signature expressions resolve against THIS stage's session
      graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
      val what = s"$op mode=append"
      val existing = if (mode == "overwrite") None else kindAt(ctx.spark, what, path) match {
        case None =>
          if (GraftFs.isDir(IndexSnapshot.corpusDir(path))) throw new GraftConfigError(
            s"$what: $path has a corpus but no meta (a crashed earlier build?) — " +
            "parameters cannot be validated; rebuild with mode=overwrite")
          None
        case Some((found, _)) =>
          if (accept(what, path, found, kind.family) != kind) throw new GraftConfigError(
            s"$what: the index at $path is ${found.describe} — append with " +
            s"${found.buildConfig}, or rebuild with mode=overwrite")
          Some(open(ctx, what, path, kind.family))
      }
      kind.build(ctx, op, path, mode, existing)
    }
  }
}
