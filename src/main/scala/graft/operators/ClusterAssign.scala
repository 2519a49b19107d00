package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._

/** cluster.assign — tag every row with the id of its nearest coarse
  * centroid from a prebuilt `index.build type=ivf|ivfpq` index. The
  * curation primitive the cluster-based data recipes need as a COLUMN,
  * not a probe: corpus-composition reports (`groupby.apply` on the
  * cluster), cluster-balanced selection (`sample.apply by=cluster
  * counts=...` — the stratified exact-k path), and SemDeDup-style
  * within-cluster analysis, all composing with the rest of the registry.
  *
  * The assignment is the index family's one nearest-cell column
  * (IvfIndex.Quantizer.assign — euclidean, ties to the lower cell id), so
  * for rows already in the index the tag provably equals the index's own
  * cell partition (pinned in ClusterAssignSpec), and a downstream
  * `knn.ivf nprobe=1` probe of a tagged row's vector scans exactly its
  * cluster. A null vector tags null.
  *
  * Scale shape: centroids are nlist rows loaded driver-side (the same
  * tiny table every ivf probe ranks); assignment is one broadcast-UDF
  * map pass — zero shuffle, no training in the query (rebuild the index
  * to recluster). No inline-training mode by design: a per-query
  * quantizer would fork the cell space from the index every other
  * operator probes.
  */
object ClusterAssignOp extends Stage {
  val name = "cluster.assign"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val vecCol = cfg.strOr("vector_column", "embedding")
    val out = cfg.strOr("output_column", "cluster")
    val df = ctx.primary
    if (!df.columns.contains(vecCol)) throw new GraftPlanError(
      s"cluster.assign: column '$vecCol' not found (has: ${df.columns.mkString(", ")})")
    if (df.columns.contains(out)) throw new GraftConfigError(
      s"cluster.assign: output_column '$out' already exists — pick another name")
    val idx = IvfIndex.open(ctx, name, cfg.str("index_path"), "input vectors",
      _ => LshIndex.firstDim(df, F.col(vecCol)))
    df.withColumn(out, idx.quantizer.assign(ctx.spark, F.col(vecCol)))
  }
}
