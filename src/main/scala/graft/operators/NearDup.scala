package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types.StructField
import graft.config._
import graft.core._

/** What a kind that blocks supplies to the [[NearDup]] driver: the
  * projection that adds the blocking key (a signature or a cell) to the
  * (id, content) representatives, and the verified pairs of keyed frames. */
private[graft] trait Blocking {
  /** the score column of [[pairs]] */
  def score: String
  def keyed(reps: DataFrame): DataFrame
  /** verified (id_<a>, id_<b>, score) pairs of keyed `left` and `right`;
    * `self` pairs a frame with itself, keeping id_a < id_b */
  def pairs(left: DataFrame, right: DataFrame, a: String, b: String, self: Boolean): DataFrame
}

/** A [[Blocking]] bound to an opened index: its corpus snapshot, the keyed
  * batch's pairs with it, and the rows an `index_append` writes. */
private[graft] trait IndexBlocking extends Blocking {
  /** the corpus snapshot, without a streaming micro-batch's own earlier
    * attempt (`excludeTag`); `keyed` types an empty corpus */
  def corpus(keyed: DataFrame, excludeTag: Option[String]): DataFrame
  /** verified (id_l, id_r, score) pairs of the keyed batch and `corpus` */
  def corpusPairs(keyed: DataFrame, corpus: DataFrame): DataFrame =
    pairs(keyed, corpus, "l", "r", self = false)
  /** the keyed batch ids (one column `id`) that near-match `corpus` */
  def crossIds(keyed: DataFrame, corpus: DataFrame): DataFrame
  /** the index rows of the batch survivors: `result`, the batch rows
    * kept, or the `keyed` representatives not `dropped` */
  def survivors(keyed: DataFrame, dropped: DataFrame, result: DataFrame,
      tag: Option[String]): DataFrame = indexRows(result, tag)
  /** the index rows of `rows`, which carry the batch's columns */
  def indexRows(rows: DataFrame, tag: Option[String]): DataFrame
  def partitionCols: Seq[String] = Nil
  /** fail loud when `batch`'s rows cannot join `corpus` */
  def checkAppend(batch: DataFrame, corpus: DataFrame): Unit = ()
}

/** The embedding blockings: the `keyCol` key computed from `vec`,
  * candidate pairs sharing a key, and the exact-cosine verify. Candidates
  * stay NARROW (ids + keys); vectors re-attach by id only to the surviving
  * candidates — an equi-join AQE broadcasts when the candidate list is
  * small (never force-broadcast the corpus: at 100 TB the candidate list
  * is the small side). */
private[graft] class VectorBlocking(keyCol: String, key: DataFrame => Column,
    candidates: (DataFrame, DataFrame, String, String, Boolean) => DataFrame,
    threshold: Double) extends Blocking {
  val score = "cosine"
  def keyed(reps: DataFrame): DataFrame = reps.withColumn(keyCol, key(reps))
  def pairs(left: DataFrame, right: DataFrame, a: String, b: String, self: Boolean): DataFrame = {
    def vecs(df: DataFrame, s: String) =
      df.select(F.col("id").alias(s"id_$s"), F.col("vec").alias(s"v_$s"))
    candidates(left, right, a, b, self).join(vecs(left, a), s"id_$a").join(vecs(right, b), s"id_$b")
      .withColumn(score, DedupEmbeddingOp.cosine(F.col(s"v_$a").cast("array<double>"),
        F.col(s"v_$b").cast("array<double>")))
      .filter(F.col(score) >= threshold)
      .select(s"id_$a", s"id_$b", score)
  }
}

/** An lsh layout's blocking: its signature (wrapped in `guard`, the dim
  * check), candidates sharing a key that pass the layout's prefilter. */
private[graft] class LshBlocking(l: LshLayout, p: SigParams, threshold: Double,
    guard: Column => Column) extends VectorBlocking("sig", _ => guard(l.signature(F.col("vec"), p)),
  LshIndex.candidates(l, p, _, _, "id", _, _, threshold, _), threshold)

/** Cell blocking: same-cell candidates, `cell` the cell of the
  * representatives; a null vector gets a null cell and no candidates. */
private[graft] final class IvfBlocking(cell: DataFrame => Column, threshold: Double)
  extends VectorBlocking(IvfLayout.Cell, cell, IvfIndex.cellPairs(_, _, "id", _, _, _), threshold)

private[graft] object VectorBlocking {
  /** The blocking a stage without an index configures with `blocking`: an
    * lsh layout under its checked parameters at `dim`, or ivf cells (`cell`
    * of the representatives). `guard` wraps every key. */
  def configured(op: String, cfg: Cfg, d: LshDefaults, dim: Int, threshold: Double,
      guard: Column => Column)(cell: DataFrame => Column): VectorBlocking =
    cfg.strOr("blocking", "pigeonhole") match {
      case "ivf" => new IvfBlocking(reps => guard(cell(reps)), threshold)
      case b =>
        val l = LshLayout.byName(b).getOrElse(throw new GraftConfigError(
          s"$op: blocking must be pigeonhole|bands|ivf, got '$b'"))
        new LshBlocking(l, LshIndex.configured(op, cfg, d, l, dim), threshold, guard)
    }
}

/** An opened lsh index (either layout) as an [[IndexBlocking]]: every batch
  * vector is checked against the index dim (named `vectors` in the error)
  * inside the signature projection, and the batch's keys join ONLY the
  * colliding index partitions (LshIndex.crossPairs). `id`/`vec` name the
  * indexed columns and type an empty corpus. */
private[graft] final class LshProbe(idx: LshIndex.Opened, threshold: Double, vectors: String,
    id: StructField, vec: StructField)
    extends LshBlocking(idx.layout, idx.params, threshold, idx.dimGuard(F.col("vec"), vectors))
    with IndexBlocking {
  private def probed(keyed: DataFrame, corpus: DataFrame): DataFrame =
    LshIndex.crossPairs(idx, keyed, corpus, id.name, vec.name, threshold)
  def corpus(keyed: DataFrame, excludeTag: Option[String]): DataFrame =
    idx.corpus(id, vec, excludeTag)
  /** one row per pair across key collisions */
  override def corpusPairs(keyed: DataFrame, corpus: DataFrame): DataFrame =
    probed(keyed, corpus).select("id_l", "id_r", score).dropDuplicates("id_l", "id_r")
  def crossIds(keyed: DataFrame, corpus: DataFrame): DataFrame =
    probed(keyed, corpus).select(F.col("id_l").alias("id")).distinct()
  def indexRows(rows: DataFrame, tag: Option[String]): DataFrame =
    LshIndex.corpusRows(idx.layout, idx.params, rows, vec.name, s"${idx.op} index_append",
      tag.getOrElse("base"))
  override def partitionCols: Seq[String] = idx.layout.partitionCols
  override def checkAppend(batch: DataFrame, corpus: DataFrame): Unit = {
    val idxCols = corpus.columns.filterNot(idx.layout.corpusCols.contains).toVector
    if (idxCols.sorted != batch.columns.toVector.sorted) throw new GraftConfigError(
      s"${idx.op} index_append: batch columns (${batch.columns.mkString(", ")}) " +
      s"must match the index row columns (${idxCols.mkString(", ")})")
  }
}

/** The one near-dup driver: featurize → key → block → verify → drop set,
  * written once per mode over a [[Blocking]]. The dedup ops and
  * join.similar bind an index kind's blocking to it. Exact copies collapse
  * to one representative before any pairing (ExactCollapse); `key` names
  * the representatives' content column (`_txt` or `vec`). */
private[graft] object NearDup {
  /** A dedup op's output: the input without the ids it drops — the exact
    * copies of a representative, and the later doc of each verified pair
    * of representatives. Without `index_path` the pairs come from `self`:
    * duplicate clusters resolve pairwise by default (a doc drops when it
    * near-matches ANY lower-id doc), `transitive` collapses connected
    * components, `keep_by` picks the survivor (DedupPairs, DedupRank).
    *
    * With `index_path`, THIS batch dedups against the index that `probe`
    * opens at the path (plus within-batch pairs) without rescanning or
    * re-keying old data: the incremental-ingestion shape. A batch doc also
    * drops when it near-matches ANY indexed doc — the already-ingested
    * corpus always wins, it cannot be un-ingested — so with batch ids above
    * index ids this equals the full-corpus pairwise pass (the correctness
    * gates pin exactly that equivalence). `index_append = true` registers
    * a deferred write of the survivors' index rows (DeferredAppend): the
    * next batch then dedups against them too. Under stream.ingest
    * (`_stream_batch_tag` set) the snapshot skips, and the append
    * overwrites, this batch's own slice. */
  def dedup(ctx: StageContext, op: String, key: String, content: String, self: => Blocking,
      probe: String => IndexBlocking): DataFrame = {
    val cfg = ctx.cfg
    val id = cfg.str("id_column")
    val index = cfg.strOpt("index_path").map { path =>
      // value checks, not key-presence: an explicit transitive = false IS
      // the behavior this mode implements
      if (cfg.has("keep_by") || cfg.boolOr("transitive", false)) throw new GraftConfigError(
        s"$op: keep_by / transitive=true are not supported with index_path " +
        "(the index is immutable — only the pairwise min-id policy is well-defined)")
      (path, probe(path))
    }
    val b = index.fold(self)(_._2)
    val rankKey = DedupRank.keyFor(cfg, "id")
    // small source files arrive as 1-2 partitions; the key projection is
    // CPU-bound per row, so spread it across the cluster first
    val base = Parallelize(ctx).select(Seq(F.col(id).alias("id"), F.col(content).alias(key)) ++
      cfg.strOpt("keep_by").map(F.col): _*)
    val (reps, exactDups, _) = ExactCollapse(base, "id", key, rankKey, ctx.deferToCleanup)
    val keyed = ctx.pin(b.keyed(reps))
    val streamTag = cfg.strOpt("_stream_batch_tag")
    val probed = index.map { case (path, p) => (path, p, p.corpus(keyed, streamTag)) }
    val inBatch = DedupPairs.dropped(
      b.pairs(keyed, keyed, "a", "b", self = true).select("id_a", "id_b"),
      cfg.boolOr("transitive", false), rankKey.map(DedupRank.ranks(base, "id", _)),
      ctx.deferToCleanup)
    val dropped = probed.fold(exactDups.unionByName(inBatch)) { case (_, p, corpus) =>
      exactDups.unionByName(p.crossIds(keyed, corpus)).unionByName(inBatch)
    }.distinct()
    val result = ctx.primary.join(dropped, ctx.primary(id) === dropped("id"), "left_anti")
    // survivors join the index only once the pipeline durably wrote its
    // outputs — a failed run must not grow the index
    probed.foreach { case (path, p, corpus) =>
      DeferredAppend(ctx, op, path, streamTag, p.partitionCols, p.checkAppend(ctx.primary, corpus))(
        p.survivors(keyed, dropped, result, streamTag))(p.indexRows(_, streamTag))
    }
    result
  }

  /** join.similar's (left_id, right_id, score) pairs of the first input
    * (ids in `leftId`) against the second (ids in `rightId`) under `self`,
    * or against the index that `probe` opens at `index_path`; `content`
    * gives a side's ("left" / "right") content column. Each side collapses
    * to distinct-content representatives (g copies of boilerplate on the
    * left × h on the right cost one representative pair), the blocking
    * pairs them, and the pairs expand back through each side's id →
    * representative mapping. An index's corpus is the right side as-is:
    * it stores every ingested row. */
  def join(ctx: StageContext, key: String, leftId: String, rightId: String,
      content: String => Column, self: => Blocking, probe: String => IndexBlocking): DataFrame = {
    def collapse(b: Blocking, i: Int, id: String, side: String): (DataFrame, DataFrame) = {
      val (reps, _, mapping) = ExactCollapse(ctx.input(i).select(F.col(id).alias("id"),
        content(side).alias("_key")), "id", "_key", release = ctx.deferToCleanup)
      (ctx.pin(b.keyed(reps.withColumnRenamed("_key", key))), mapping)
    }
    val (b, pairs, mapL, mapR) = ctx.cfg.strOpt("index_path") match {
      case Some(path) =>
        val b = probe(path)
        val (kl, mapL) = collapse(b, 0, leftId, "left")
        (b, b.corpusPairs(kl, b.corpus(kl, None)), mapL, None)
      case None =>
        val b = self
        val (kl, mapL) = collapse(b, 0, leftId, "left")
        val (kr, mapR) = collapse(b, 1, rightId, "right")
        (b, b.pairs(kl, kr, "l", "r", self = false), mapL, Some(mapR))
    }
    val left = pairs.join(mapL, pairs("id_l") === mapL("rep_id"))
      .select(F.col("orig_id").alias("left_id"), F.col("id_r"), F.col(b.score))
    mapR.fold(left.withColumnRenamed("id_r", "right_id"))(m =>
      left.join(m, F.col("id_r") === m("rep_id"))
        .select(F.col("left_id"), F.col("orig_id").alias("right_id"), F.col(b.score)))
  }
}
