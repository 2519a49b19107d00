package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import graft.config._
import graft.core._

/** join.similar — similarity JOIN between two tables (training-data
  * extension; the reference has no joins at all). The canonical use is
  * benchmark DECONTAMINATION: `mode = "anti"` keeps only the left
  * (training) documents that near-match NO right (benchmark) document —
  * the contamination filter every serious pre-training pipeline runs.
  * `semi` keeps the matching rows instead (overlap audit), `pairs` emits
  * (left_id, right_id, score) for inspection.
  *
  * Methods:
  *  - `minhash` (text): word-shingle MinHash signatures on BOTH sides,
  *    LSH band join (candidates only from equal (band, band-hash)
  *    buckets — the two corpora are never cross-joined), signature-
  *    agreement prefilter, exact-Jaccard verify at `threshold`.
  *  - `embedding` (vectors): hyperplane signatures, pigeonhole block
  *    join, exact-cosine verify. `blocking = "bands"` switches to banded
  *    LSH (independent `bands` × `band_planes`-bit signatures, candidate
  *    on exact band agreement) — the corpus-scale blocking, see
  *    dedup.embedding.
  *
  * `index_path` replaces the second input with a PREBUILT index corpus
  * (`index.build type=minhash` for method=minhash; `type=lsh`, either
  * layout, for method=embedding): match new rows against everything
  * already ingested without rescanning or re-hashing it — signature
  * parameters come from the index meta, conflicts fail loud, and the
  * banded layout probes only colliding (band, pband) partitions.
  *
  * Scale shape mirrors the dedup family (same helpers): each side is
  * exact-collapsed to distinct-content representatives first, so g
  * copies of boilerplate on the left × h on the right cost one
  * representative pair instead of g·h bucket pairs; matches expand back
  * through the (id → representative) mapping afterwards. The banded join
  * carries only (id, sig) — shingle arrays / vectors re-join by id for
  * the surviving candidates.
  */
object SimilarJoinOp extends Stage {
  val name = "join.similar"
  val kind = StageKind.Transform
  private val Defaults = LshDefaults(planes = 32L, seed = 42L, planesKey = "planes")

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val left = ctx.input(0)
    val mode = cfg.strOr("mode", "pairs") match {
      case ok @ ("pairs" | "semi" | "anti") => ok
      case other => throw new GraftConfigError(s"join.similar mode must be pairs|semi|anti, got '$other'")
    }
    val leftId = cfg.strOr("left_id", cfg.strOr("id_column", "id"))
    val rightId = cfg.strOr("right_id", cfg.strOr("id_column", "id"))
    // right side: a second input, or a prebuilt index (`index_path`) — the
    // "match new rows against everything already ingested" probe
    val indexPath = cfg.strOpt("index_path")
    if (indexPath.isDefined && ctx.inputs.size > 1) throw new GraftConfigError(
      "join.similar: give EITHER a second (right) input or index_path, not both")

    val pairs = (cfg.strOr("method", "minhash"), indexPath) match {
      case ("minhash", None)      => minhashPairs(ctx, left, ctx.input(1), leftId, rightId)
      case ("embedding", None)    => embeddingPairs(ctx, left, ctx.input(1), leftId, rightId)
      case ("minhash", Some(p))   => minhashIndexPairs(ctx, left, leftId, p)
      case ("embedding", Some(p)) => embeddingIndexPairs(ctx, left, leftId, p)
      case (other, _) => throw new GraftConfigError(s"join.similar method must be minhash|embedding, got '$other'")
    }

    mode match {
      case "pairs" => pairs
      case "semi" | "anti" =>
        val matched = pairs.select(F.col("left_id")).distinct()
        left.join(matched, left(leftId) === matched("left_id"),
          if (mode == "semi") "left_semi" else "left_anti")
    }
  }

  /** (representatives (id, key), mapping (orig id → representative id)) —
    * one content-key shuffle, persisted because reps and mapping both
    * filter it. */
  private def collapse(df: DataFrame, id: String, key: Column,
      release: (() => Unit) => Unit): (DataFrame, DataFrame) = {
    val keyed = df.select(F.col(id).alias("id"), key.alias("_key"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_key")
    val withRep = StageContext.pinWith(release, keyed.withColumn("_rep", F.min("id").over(w)))
    val reps = withRep.filter(F.col("id") === F.col("_rep")).select("id", "_key")
    val mapping = withRep.select(F.col("id").alias("orig_id"), F.col("_rep").alias("rep_id"))
    (reps, mapping)
  }

  /** Expand representative-level pairs back to original ids. */
  private def expand(repPairs: DataFrame, mapL: DataFrame, mapR: DataFrame,
      score: String): DataFrame =
    repPairs
      .join(mapL, repPairs("rep_l") === mapL("rep_id"))
      .select(F.col("orig_id").alias("left_id"), F.col("rep_r"), F.col(score))
      .join(mapR, F.col("rep_r") === mapR("rep_id"))
      .select(F.col("left_id"), F.col("orig_id").alias("right_id"), F.col(score))

  private def minhashPairs(ctx: StageContext, left: DataFrame, right: DataFrame,
      leftId: String, rightId: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    val cfg = ctx.cfg
    val leftText = cfg.strOr("left_text", cfg.strOr("text_column", "text"))
    val rightText = cfg.strOr("right_text", cfg.strOr("text_column", "text"))
    val minhash = TextSigFamily.MinHash
    val p = minhash.fromConfig(cfg)
    minhash.problem(p).foreach(m => throw new GraftConfigError(m))

    def prepare(df: DataFrame, id: String, text: String) = {
      val (reps, mapping) = collapse(df, id, F.col(text), ctx.deferToCleanup)
      (ctx.pin(minhash.signatures(reps.withColumnRenamed("_key", "_txt"), p)), mapping)
    }
    val (hl, mapL) = prepare(left, leftId, leftText)
    val (hr, mapR) = prepare(right, rightId, rightText)
    // the minhash family's cross pairs: the band join on narrow keys, the
    // signature-agreement prefilter and the exact-Jaccard verify
    val verified = minhash.crossPairsScored(hl, hr, p, cfg)
      .select(F.col("id_l").alias("rep_l"), F.col("id_r").alias("rep_r"), F.col("jaccard"))
    expand(verified, mapL, mapR, "jaccard")
  }

  private def embeddingPairs(ctx: StageContext, left: DataFrame, right: DataFrame,
      leftId: String, rightId: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    val cfg = ctx.cfg
    val leftVec = cfg.strOr("left_vector", cfg.strOr("vector_column", "embedding"))
    val rightVec = cfg.strOr("right_vector", cfg.strOr("vector_column", "embedding"))
    val threshold = cfg.doubleOr("threshold", 0.9)
    val blocking = cfg.strOr("blocking", "pigeonhole")
    // only the chosen layout's parameters are checked: a leftover
    // pigeonhole value must not reject a banded/ivf config that never uses it
    val layout = blocking match {
      case "ivf" => None
      case b => Some(LshLayout.byName(b).getOrElse(throw new GraftConfigError(
        s"join.similar: blocking must be pigeonhole|bands|ivf, got '$b'")))
    }
    val unsized = layout.map(l => (l, LshIndex.configured(name, cfg, Defaults, l, 0)))
    // an EMPTY side is legal input (a benchmark slice filtered to nothing,
    // a first-ever batch) and can produce no pairs — short-circuit before
    // the dimension probe, which needs a row
    val (dimLOpt, dimROpt) = (vecDim(left, leftVec), vecDim(right, rightVec))
    if (dimLOpt.isEmpty || dimROpt.isEmpty)
      return ctx.spark.createDataFrame(
        ctx.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("left_id", left.schema(leftId).dataType),
          org.apache.spark.sql.types.StructField("right_id", right.schema(rightId).dataType),
          org.apache.spark.sql.types.StructField("cosine", org.apache.spark.sql.types.DoubleType))))
    val (dimL, dimR) = (dimLOpt.get, dimROpt.get)
    if (dimL != dimR)
      throw new GraftConfigError(s"embedding dims differ: left $dimL vs right $dimR")

    // blocking=ivf (SemDeDup-style cluster blocking, see dedup.embedding):
    // candidates are same-cell cross pairs under ONE shared coarse
    // quantizer — quantizer_path reuses a prebuilt ivf/ivfpq index;
    // otherwise one trained on the RIGHT (corpus) side's bounded draw, the
    // side the left rows are being matched against. nlist = 1 is
    // exhaustive (the similar_join_embedding_ivf gate).
    val cellOf = if (layout.isDefined) None else Some(IvfIndex.blockingQuantizer(ctx, name,
      right, F.col(rightVec), Defaults.seed, "vectors", Some(dimL)).assign(ctx.spark, F.col("vec")))
    val lsh = unsized.map { case (l, p) => (l, p.updated(LshLayout.Dim, dimL)) }
    // content key for exact collapse = the vector itself (distinct vectors)
    def prepare(df: DataFrame, id: String, vec: String) = {
      val (reps, mapping) = collapse(df, id, F.col(vec).cast("array<float>"), ctx.deferToCleanup)
      val keyed = reps.select(F.col("id"), F.col("_key").alias("vec"))
      (ctx.pin(lsh match {
        case Some((l, p)) => keyed.withColumn("sig", l.signature(F.col("vec"), p))
        case None => keyed.withColumn("cell", cellOf.get)
      }), mapping)
    }
    val (sl, mapL) = prepare(left, leftId, leftVec)
    val (sr, mapR) = prepare(right, rightId, rightVec)

    // the layout's keys and prefilter, exactly as dedup.embedding's
    // self-pairs; ivf blocks on the one shared cell
    val candidates = lsh match {
      case Some((l, p)) =>
        LshIndex.candidates(l, p, sl, sr, "rep", "l", "r", threshold, self = false)
      case None => IvfIndex.cellPairs(sl, sr, "rep", "l", "r", self = false)
    }

    val verified = candidates
      .join(sl.select(F.col("id").alias("rep_l"), F.col("vec").alias("v_l")), "rep_l")
      .join(sr.select(F.col("id").alias("rep_r"), F.col("vec").alias("v_r")), "rep_r")
      .withColumn("cosine",
        DedupEmbeddingOp.cosine(F.col("v_l").cast("array<double>"), F.col("v_r").cast("array<double>")))
      .filter(F.col("cosine") >= threshold)
      .select("rep_l", "rep_r", "cosine")

    expand(verified, mapL, mapR, "cosine")
  }

  /** None = the side has no rows (caller short-circuits); a present row
    * with a null vector is still a loud error. */
  private def vecDim(df: DataFrame, vec: String): Option[Int] =
    df.select(F.size(F.col(vec))).head(1).headOption.map { head =>
      if (head.isNullAt(0))
        throw new GraftConfigError(s"join.similar: vector column '$vec' is empty")
      head.getInt(0)
    }

  /** `index_path` (method=minhash): the right side is an `index.build
    * type=minhash` corpus — match the left rows against everything
    * already ingested without rescanning or re-hashing it. The index opens
    * through IndexCatalog.open like the dedup families (kind check, meta
    * parameters, conflict rejection, explain placeholder); the left side
    * still exact-collapses to representatives and expands matches back,
    * the index side is used as-is (it stores every ingested row). */
  private def minhashIndexPairs(ctx: StageContext, left: DataFrame, leftId: String,
      path: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    val leftText = ctx.cfg.strOr("left_text", ctx.cfg.strOr("text_column", "text"))
    val minhash = TextSigFamily.MinHash
    val index = IndexCatalog.open(ctx, "join.similar", path, IndexCatalog.Text(minhash))
    val (reps, mapping) = collapse(left, leftId, F.col(leftText), ctx.deferToCleanup)
    val hashed = ctx.pin(minhash.signatures(reps.withColumnRenamed("_key", "_txt"), index.params))
    val scored = minhash.crossPairsScored(hashed,
      index.corpus(minhash.corpusSchema(left.schema(leftId).dataType)),
      index.params, ctx.cfg)
    scored.join(mapping, scored("id_l") === mapping("rep_id"))
      .select(F.col("orig_id").alias("left_id"), F.col("id_r").alias("right_id"),
        F.col("jaccard"))
  }

  /** `index_path` (method=embedding): the right side is an `index.build
    * type=lsh` corpus of either layout, opened and probed exactly like the
    * dedup.embedding index probe (LshIndex.open / crossPairs) but emitting
    * scored PAIRS instead of dropping ids. `right_id` / `right_vector` name
    * the indexed columns. */
  private def embeddingIndexPairs(ctx: StageContext, left: DataFrame, leftId: String,
      path: String): DataFrame = {
    val cfg = ctx.cfg
    val leftVec = cfg.strOr("left_vector", cfg.strOr("vector_column", "embedding"))
    val rId = cfg.strOr("right_id", cfg.strOr("id_column", "id"))
    val rVec = cfg.strOr("right_vector", cfg.strOr("vector_column", "embedding"))
    val index = LshIndex.open(ctx, name, path, Defaults, s"left vectors in '$leftVec'",
      LshIndex.firstDim(left, F.col(leftVec)))
    val (reps, mapping) = collapse(left, leftId, F.col(leftVec).cast("array<float>"),
      ctx.deferToCleanup)
    val sigs = ctx.pin(reps.select(F.col("id"), F.col("_key").alias("vec"))
      .withColumn("sig", index.signature(F.col("vec"))))
    // the empty-index fallback types the right side like the left
    import org.apache.spark.sql.types.StructField
    val corpus = index.corpus(StructField(rId, left.schema(leftId).dataType),
      StructField(rVec, left.schema(leftVec).dataType))
    val pairs = LshIndex.crossPairs(index, sigs, corpus, rId, rVec,
      cfg.doubleOr("threshold", 0.9))
      .select("id_l", "id_r", "cosine")
      .dropDuplicates("id_l", "id_r") // one row per pair across key collisions
    pairs.join(mapping, pairs("id_l") === mapping("rep_id"))
      .select(F.col("orig_id").alias("left_id"), F.col("id_r").alias("right_id"),
        F.col("cosine"))
  }
}
