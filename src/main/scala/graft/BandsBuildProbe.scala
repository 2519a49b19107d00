package graft

import org.apache.spark.sql.{functions => F, SparkSession}

/** Measurement-only: phase-split timing of `index.build type=lsh
  * blocking=bands` (the most expensive recurring index_build phase in the
  * bench — 5+ gates pay it). Replicates the build's steps with a timer per
  * step so the cost attributes to dim-inference / signature write / meta /
  * occupancy advisory instead of one opaque number.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.BandsBuildProbe [sfDir] [reps]"
  */
object BandsBuildProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = body
      println(f"[bandsbuild] $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
      out
    }
    val emb = Tables.load(spark, dir, "embeddings")
    // warm: full build once at the target SF
    val warmIdx = java.nio.file.Files.createTempDirectory("bbp_warm").toString
    graft.operators.IndexBuildOp(graft.core.StageContext.one(spark, emb,
      graft.config.Cfg.of("type" -> "lsh", "blocking" -> "bands", "path" -> warmIdx,
        "vector_column" -> "embedding", "bands" -> 8, "band_planes" -> 12,
        "seed" -> 11, "partition_dirs" -> 4)))
    for (i <- 1 to reps) {
      println(s"[bandsbuild] --- rep $i ---")
      val idx = java.nio.file.Files.createTempDirectory(s"bbp_$i").toString
      timed("full_build") {
        graft.operators.IndexBuildOp(graft.core.StageContext.one(spark, emb,
          graft.config.Cfg.of("type" -> "lsh", "blocking" -> "bands", "path" -> idx,
            "vector_column" -> "embedding", "bands" -> 8, "band_planes" -> 12,
            "seed" -> 11, "partition_dirs" -> 4)))
      }
      // step replicas (fresh dir so writes are real)
      val idx2 = java.nio.file.Files.createTempDirectory(s"bbp_s$i").toString
      val dim = timed("dim_head")(emb.select(F.size(F.col("embedding"))).head(1).head.getInt(0))
      val bsig = graft.operators.DedupEmbeddingOp.bandSignatures(
        F.col("embedding"), dim, 8, 12, 11L, ndExplode = true)
      val exploded = timed("plan_compose") {
        emb.withColumn("_bsig", bsig)
          .select(F.col("*"), F.posexplode(F.col("_bsig")).as(Seq("band", "bsig")))
          .drop("_bsig")
          .withColumn("band", F.col("band").cast("int"))
          .withColumn("pband", (F.col("bsig") % 4).cast("int"))
          .withColumn("ingest_tag", F.lit("base"))
          .repartition(F.col("band"), F.col("pband"))
      }
      timed("corpus_write")(exploded.write.mode("overwrite")
        .partitionBy("band", "pband", "ingest_tag").parquet(s"$idx2/corpus"))
      timed("occupancy_footers") {
        val files = graft.operators.IndexSnapshot.files(s"$idx2/corpus", "missing")
        graft.operators.IndexSnapshot.footerRows(files)
      }
      // variants: where does the compute time go?
      timed("noop_compute_only")(exploded.write.format("noop").mode("overwrite").save())
      timed("noop_scan_only")(emb.write.format("noop").mode("overwrite").save())
      timed("noop_sig_only")(emb.withColumn("_bsig", bsig)
        .write.format("noop").mode("overwrite").save())
      timed("noop_sig_explode")(emb.withColumn("_bsig", bsig)
        .select(F.col("*"), F.posexplode(F.col("_bsig")).as(Seq("band", "bsig")))
        .write.format("noop").mode("overwrite").save())
      if (i == 1) {
        val dfx = emb.withColumn("_bsig", bsig)
          .select(F.col("*"), F.posexplode(F.col("_bsig")).as(Seq("band", "bsig")))
          .drop("_bsig")
          .withColumn("band", F.col("band").cast("int"))
          .withColumn("pband", (F.col("bsig") % 4).cast("int"))
          .withColumn("ingest_tag", F.lit("base"))
          .repartition(F.col("band"), F.col("pband"))
        println("[bandsbuild] PLAN:\n" + dfx.queryExecution.executedPlan.toString)
      }
      // pure-scala baseline for the same flops
      val vecs = emb.select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      timed("pure_scala_sig") {
        val rnd = new scala.util.Random(11L)
        val planes = Array.fill(96, dim)(rnd.nextGaussian())
        var acc = 0L
        vecs.foreach { v =>
          var b = 0
          while (b < 8) {
            var sig = 0L; var i = 0
            while (i < 12) {
              var dot = 0.0; var j = 0
              val p = planes(b * 12 + i)
              while (j < dim) { dot += p(j) * v(j); j += 1 }
              if (dot >= 0) sig |= (1L << i); i += 1
            }
            acc += sig; b += 1
          }
        }
        acc
      }
    }
    spark.stop()
  }
}
