package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._
import graft.functions.GraftFunctions

/** A text near-dup stage: one [[TextSigFamily]] bound to the shared
  * [[TextSigDedup]] driver. Without `index_path` it self-dedups the input;
  * with it, it dedups the input against an `index.build type=<family>`
  * corpus. Either way it drops the rows whose id is in the drop set. */
abstract class TextSigDedupOp(family: TextSigFamily) extends Stage {
  val name = s"dedup.${family.name}"
  val kind = StageKind.Transform

  /** ids to drop (one column `id`) — exposed for tests/metrics. */
  def duplicateIds(ctx: StageContext): DataFrame = TextSigDedup.duplicateIds(ctx, family)

  def apply(ctx: StageContext): DataFrame = {
    val id = ctx.cfg.str("id_column")
    val dups = ctx.cfg.strOpt("index_path") match {
      case Some(path) => TextSigDedup.incrementalDuplicateIds(ctx, family, path)
      case None       => duplicateIds(ctx)
    }
    ctx.primary.join(dups, ctx.primary(id) === dups("id"), "left_anti")
  }
}

/** The one driver behind dedup.minhash|ngram|simhash and `index.build
  * type=minhash|ngram|simhash`: featurize → signature → block → verify →
  * drop set, written once; every family-specific step comes from the
  * [[TextSigFamily]] value. Exact copies collapse to one representative
  * before any pairing (ExactCollapse). */
private[graft] object TextSigDedup {

  /** ids to drop (one column `id`) from a self-dedup of the input.
    * Duplicate clusters resolve pairwise by default (a doc drops when it
    * near-matches ANY lower-id doc); `transitive` collapses connected
    * components, `keep_by` picks the survivor (DedupPairs, DedupRank). */
  def duplicateIds(ctx: StageContext, f: TextSigFamily): DataFrame = {
    GraftFunctions.ensureRegistered(ctx.spark)
    val cfg = ctx.cfg
    val p = f.fromConfig(cfg)
    f.problem(p).foreach(m => throw new GraftConfigError(m))
    val rankKey = DedupRank.keyFor(cfg, "id")
    // small source files arrive as 1-2 partitions; the signature loop is
    // CPU-bound per row, so spread it across the cluster first
    val base = Parallelize(ctx).select(
      Seq(F.col(cfg.str("id_column")).alias("id"), F.col(cfg.str("text_column")).alias("_txt")) ++
        cfg.strOpt("keep_by").map(F.col): _*)
    val (reps, exactDups) = ExactCollapse(base, "id", "_txt", rankKey, ctx.deferToCleanup)
    val sigs = ctx.pin(f.signatures(reps, p))
    exactDups.unionByName(DedupPairs.dropped(f.selfPairs(sigs, p, cfg),
      cfg.boolOr("transitive", false),
      rankKey.map(DedupRank.ranks(base, "id", _)), ctx.deferToCleanup)).distinct()
  }

  /** `index_path` mode — dedup THIS batch against a persisted index corpus
    * (plus within-batch pairs) without rescanning or re-hashing old text:
    * the incremental-ingestion shape. Signature parameters come from the
    * index meta (IndexCatalog.open). A batch doc drops when it near-matches ANY
    * indexed doc (the already-ingested corpus always wins — it cannot be
    * un-ingested) or any lower-id batch doc (the pairwise rule). With
    * batch ids above index ids this equals the full-corpus pairwise pass —
    * the correctness gates pin exactly that equivalence. keep_by /
    * transitive are batch-internal policies that cannot reach into an
    * immutable index — rejected loudly rather than half-applied.
    *
    * `index_append = true` registers a deferred write (fires only after
    * the surrounding pipeline's sinks succeed, kafka-commit style) adding
    * the batch's surviving representatives to `corpus/` — the next batch
    * then dedups against them too. */
  def incrementalDuplicateIds(ctx: StageContext, f: TextSigFamily, path: String): DataFrame = {
    GraftFunctions.ensureRegistered(ctx.spark)
    val cfg = ctx.cfg
    val op = s"dedup.${f.name}"
    val id = cfg.str("id_column")
    val text = cfg.str("text_column")
    // value checks, not key-presence: an explicit transitive = false IS
    // the behavior this mode implements
    if (cfg.has("keep_by") || cfg.boolOr("transitive", false))
      throw new GraftConfigError(
        s"$op: keep_by / transitive=true are not supported with index_path " +
        "(the index is immutable — only the pairwise min-id policy is well-defined)")
    val index = IndexCatalog.open(ctx, op, path, IndexCatalog.Text(f))
    val p = index.params

    val base = Parallelize(ctx).select(F.col(id).alias("id"), F.col(text).alias("_txt"))
    val (reps, exactDups) = ExactCollapse(base, "id", "_txt", None, ctx.deferToCleanup)
    val sigs = ctx.pin(f.signatures(reps, p))

    val streamTag = cfg.strOpt("_stream_batch_tag")
    val corpus = index.corpus(f.corpusSchema(sigs.schema("id").dataType), excludeDir = streamTag)
    val vsIndex = f.crossDropped(sigs, corpus, p, cfg)
    val inBatch = DedupPairs.dropped(f.selfPairs(sigs, p, cfg),
      transitive = false, None, ctx.deferToCleanup)
    val dropped = exactDups.unionByName(vsIndex).unionByName(inBatch).distinct()

    if (cfg.boolOr("index_append", false)) {
      IndexSnapshot.claimAppend(ctx, op, path)
      // survivors' representatives join the index only once the pipeline
      // durably wrote its outputs — a failed run must not grow the index
      if (!cfg.boolOr("_explain_only", false))
        DeferredAppend(ctx, path, streamTag, sigs.join(dropped, Seq("id"), "left_anti")) { rows =>
          f.signatures(rows.select(F.col(id).alias("id"), F.col(text).alias("_txt")), p)
        }
    }
    dropped
  }

  /** `index.build type=<family>` — hash every document once (the
    * CPU-heavy step) into the narrow corpus rows under `corpus/`, with the
    * signature parameters under `meta/` so probes regenerate identical
    * signatures. Indexes ALL input rows: a future batch must match
    * documents that were themselves duplicates, exactly as a full-corpus
    * pairwise pass would. LSH bands derive from the signature at probe
    * time instead of being stored ×bands. mode=append must extend the EXISTING signature
    * space: the catalog rejects another kind's index, and other parameters
    * fail loud here, before anything is written. */
  def build(ctx: StageContext, f: TextSigFamily, op: String, path: String, mode: String,
      existing: Option[IndexCatalog.Opened[IndexKind]]): Unit = {
    val cfg = ctx.cfg
    val id = cfg.strOr("id_column", "doc_id")
    val text = cfg.strOr("text_column", "text")
    val p = f.fromConfig(cfg)
    f.problem(p).foreach(m => throw new GraftConfigError(s"$op: $m"))
    existing.foreach(_.requireParams(p))
    f.signatures(Parallelize(ctx).select(F.col(id).alias("id"), F.col(text).alias("_txt")), p)
      .write.mode(mode).parquet(IndexSnapshot.corpusDir(path))
    // one-row table the driver already holds — write it driver-side
    // (DriverParquet) instead of scheduling a Spark job for it
    DriverParquet.overwrite(s"$path/meta", f.metaCols(p))
  }
}
