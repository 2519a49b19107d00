package graft

import org.apache.spark.sql.{functions => F}
import graft.operators.{DedupEmbeddingOp, IndexSnapshot}

/** Pins for the r14 optimization work:
  * - footerRowsEstimate: exact below the footer cap, sane byte-share
  *   extrapolation above it (the bands occupancy advisory's input);
  * - ndExplode: the signature UDF appears exactly once in the optimized
  *   build plan — InferFiltersFromGenerate used to duplicate it into an
  *   inferred size()/isnotnull filter (3 evaluations per row, measured
  *   ~1.3 s per bands build at sf0.1). */
class R14OptimizationSpec extends SparkSpec {
  import spark.implicits._

  test("footerRowsEstimate is exact at or below the footer cap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fre").toString + "/t"
    (1L to 500L).toDF("x").repartition(4).write.parquet(dir)
    val files = IndexSnapshot.filesWithLen(dir, "missing")
    assert(files.size > 1)
    assert(IndexSnapshot.footerRowsEstimate(files) === 500L)
    assert(IndexSnapshot.footerRowsEstimate(Nil) === 0L)
  }

  test("footerRowsEstimate extrapolates by byte share above the cap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fre2").toString + "/t"
    (1L to 1000L).toDF("x").repartition(8).write.parquet(dir)
    val files = IndexSnapshot.filesWithLen(dir, "missing")
    assert(files.size === 8)
    val est = IndexSnapshot.footerRowsEstimate(files, maxFooters = 3)
    // uniform rows per file → byte-share extrapolation lands near truth
    assert(est >= 800L && est <= 1200L, s"estimate $est far from 1000")
  }

  test("ndExplode signature build plan evaluates the UDF exactly once") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // parquet-backed (a LocalRelation would let ConvertToLocalRelation
    // evaluate the projections at optimization time and hide the shape)
    val dfDir = java.nio.file.Files.createTempDirectory("graft_nde").toString + "/t"
    (0 until 50).map(i => (i.toLong, Seq.fill(8)(i.toFloat)))
      .toDF("id", "embedding").write.parquet(dfDir)
    val df = spark.read.parquet(dfDir)
    def explodedPlan(nd: Boolean): String = {
      val bsig = DedupEmbeddingOp.bandSignatures(
        F.col("embedding"), 8, 4, 6, 11L, ndExplode = nd)
      df.withColumn("_bsig", bsig)
        .select(F.col("*"), F.posexplode(F.col("_bsig")).as(Seq("band", "bsig")))
        .drop("_bsig")
        .queryExecution.executedPlan.toString
    }
    val nd = explodedPlan(nd = true)
    val det = explodedPlan(nd = false)
    // the signature is a native expression since r14 (prints as
    // band_sigs(...)); count its evaluations in the physical plan
    def sigCount(p: String) = "band_sigs".r.findAllIn(p).size
    assert(sigCount(nd) === 1,
      s"expected exactly one signature evaluation in:\n$nd")
    // the deterministic shape is the one InferFiltersFromGenerate
    // duplicates (an inferred size()/isnotnull filter below the Generate);
    // if a future Spark stops duplicating, this contrast goes to 1 and the
    // ndExplode flag can be retired
    assert(sigCount(det) >= 1)
    // and the rows are identical either way (the flag only blocks the
    // optimizer duplication, never the values)
    def rows(ndFlag: Boolean) = {
      val bsig = DedupEmbeddingOp.bandSignatures(
        F.col("embedding"), 8, 4, 6, 11L, ndExplode = ndFlag)
      df.withColumn("_bsig", bsig)
        .select(F.col("id"), F.posexplode(F.col("_bsig")).as(Seq("band", "bsig")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    assert(rows(true) === rows(false))
  }
}
