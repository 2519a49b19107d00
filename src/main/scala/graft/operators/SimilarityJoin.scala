package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types.StructField
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
  * It is the near-dup driver's cross mode (NearDup.join), over the same
  * blockings as the dedup family: each side is
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
    // `<side>_<x>` names a side's column, else `<x>_column`
    def col(side: String, x: String, default: String): String =
      cfg.strOr(s"${side}_$x", cfg.strOr(s"${x}_column", default))
    val (leftId, rightId) = (col("left", "id", "id"), col("right", "id", "id"))
    // right side: a second input, or a prebuilt index (`index_path`) — the
    // "match new rows against everything already ingested" probe
    val indexPath = cfg.strOpt("index_path")
    if (indexPath.isDefined && ctx.inputs.size > 1) throw new GraftConfigError(
      "join.similar: give EITHER a second (right) input or index_path, not both")
    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)

    val pairs = cfg.strOr("method", "minhash") match {
      case "minhash" =>
        val f = TextSigFamily.MinHash
        NearDup.join(ctx, "_txt", leftId, rightId, side => F.col(col(side, "text", "text")),
          new TextBlocking(f, f.configured(name, cfg), cfg),
          p => new TextProbe(IndexCatalog.open(ctx, name, p, IndexCatalog.Text(f)), cfg))
      case "embedding" =>
        val vec = (side: String) => col(side, "vector", "embedding")
        val threshold = cfg.doubleOr("threshold", 0.9)
        // content key for exact collapse = the vector itself (distinct vectors)
        NearDup.join(ctx, "vec", leftId, rightId, side => F.col(vec(side)).cast("array<float>"),
          embeddingBlocking(ctx, vec("left"), vec("right"), threshold), { path =>
            val vectors = s"left vectors in '${vec("left")}'"
            // the empty-index fallback types the right side like the left
            new LshProbe(LshIndex.open(ctx, name, path, Defaults, vectors, None), threshold,
              vectors, StructField(rightId, left.schema(leftId).dataType),
              StructField(vec("right"), left.schema(vec("left")).dataType))
          })
      case other => throw new GraftConfigError(s"join.similar method must be minhash|embedding, got '$other'")
    }

    mode match {
      case "pairs" => pairs
      case "semi" | "anti" =>
        val matched = pairs.select(F.col("left_id")).distinct()
        left.join(matched, left(leftId) === matched("left_id"),
          if (mode == "semi") "left_semi" else "left_anti")
    }
  }

  /** method=embedding against the second input: the `blocking` layout,
    * every vector checked against the first one's length. */
  private def embeddingBlocking(ctx: StageContext, leftVec: String, rightVec: String,
      threshold: Double): Blocking = {
    val right = ctx.input(1)
    // an EMPTY side is legal input (a benchmark slice filtered to nothing,
    // a first-ever batch) and pairs with nothing
    val (dimL, dimR) = (vecDim(ctx.input(0), leftVec), vecDim(right, rightVec))
    for (l <- dimL; r <- dimR if l != r) throw new GraftConfigError(
      s"$name: embedding dims differ: left $l vs right $r")
    val dim = dimL.orElse(dimR) // None: both sides empty
    val width = dim.getOrElse(0)
    // blocking=ivf: ONE shared coarse quantizer — quantizer_path reuses a
    // prebuilt ivf/ivfpq index; otherwise one trained on the RIGHT (corpus)
    // side's bounded draw, the side the left rows are being matched
    // against. nlist = 1 is exhaustive (the similar_join_embedding_ivf gate).
    val guard = LshIndex.dimGuard(F.col("vec"), width, s"$name: vectors have length ",
      s" but the first has length $width")
    lazy val cell = IvfIndex.blockingQuantizer(ctx, name,
      right.select(F.col(rightVec).alias("vec")), guard(F.col("vec")), Defaults.seed, "vectors",
      dim).assign(ctx.spark, F.col("vec"))
    VectorBlocking.configured(name, ctx.cfg, Defaults, width, threshold, guard)(_ => cell)
  }

  /** None = the side has no rows; a present row with a null vector is
    * still a loud error. */
  private def vecDim(df: DataFrame, vec: String): Option[Int] =
    df.select(F.size(F.col(vec))).head(1).headOption.map { head =>
      if (head.isNullAt(0))
        throw new GraftConfigError(s"join.similar: vector column '$vec' is empty")
      head.getInt(0)
    }
}
