package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._
import graft.functions.GraftFunctions

/** A text near-dup stage: one [[TextSigFamily]]'s blocking bound to the
  * [[NearDup]] driver. Without `index_path` it self-dedups the input;
  * with it, it dedups the input against an `index.build type=<family>`
  * corpus. Either way it drops the rows whose id is in the drop set. */
abstract class TextSigDedupOp(family: TextSigFamily) extends Stage {
  val name = s"dedup.${family.name}"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    GraftFunctions.ensureRegistered(ctx.spark)
    val cfg = ctx.cfg
    NearDup.dedup(ctx, name, "_txt", cfg.str("text_column"),
      new TextBlocking(family, family.configured(name, cfg), cfg),
      path => new TextProbe(IndexCatalog.open(ctx, name, path, IndexCatalog.Text(family)), cfg))
  }
}

/** A text family's blocking under signature parameters `p`: the family's
  * signatures of `_txt` and its pairs. */
private[graft] class TextBlocking(f: TextSigFamily, p: SigParams, cfg: Cfg) extends Blocking {
  def score: String = f.score
  def keyed(reps: DataFrame): DataFrame = f.signatures(reps, p)
  def pairs(left: DataFrame, right: DataFrame, a: String, b: String, self: Boolean): DataFrame =
    f.pairs(left, right, a, b, self, p, cfg)
}

/** An opened text index as an [[IndexBlocking]]: the signature parameters
  * come from the index meta, and the corpus stores the signature rows of
  * every ingested document, which an append extends by the survivors'. */
private[graft] final class TextProbe(idx: IndexCatalog.Opened[TextSigFamily], cfg: Cfg)
    extends TextBlocking(idx.kind, idx.params, cfg) with IndexBlocking {
  def corpus(keyed: DataFrame, excludeTag: Option[String]): DataFrame =
    idx.corpus(idx.kind.corpusSchema(keyed.schema("id").dataType), excludeDir = excludeTag)
  def crossIds(keyed: DataFrame, corpus: DataFrame): DataFrame =
    idx.kind.crossDropped(keyed, corpus, idx.params, cfg)
  override def survivors(keyed: DataFrame, dropped: DataFrame, result: DataFrame,
      tag: Option[String]): DataFrame =
    keyed.join(dropped, Seq("id"), "left_anti")
  def indexRows(rows: DataFrame, tag: Option[String]): DataFrame =
    idx.kind.signatures(rows.select(F.col(cfg.str("id_column")).alias("id"),
      F.col(cfg.str("text_column")).alias("_txt")), idx.params)
}
