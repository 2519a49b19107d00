package graft

import org.apache.spark.sql.{functions => F, SparkSession}

/** Measurement-only: per-row cost of the hyperplane/band signature scalar
  * UDFs at volume (the corpus-wide map pass of every embedding build and
  * index-side probe recompute). 100k synthetic 64-dim vectors; noop sink;
  * scan-only baseline subtracted by eye.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.SigPerfProbe [rows]"
  */
object SigPerfProbe {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toInt else 200000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sigperf").toString + "/t"
    spark.range(rows).select(F.col("id"),
        F.transform(F.sequence(F.lit(0), F.lit(63)),
          j => (F.rand(7) * 2 - 1).cast("float")).as("embedding"))
      .repartition(8).write.parquet(dir)
    val df = spark.read.parquet(dir)
    def timed(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body
      println(f"[sigperf] $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    def noop(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()
    val sig = graft.operators.DedupEmbeddingOp.hyperplaneSig(F.col("embedding"), 64, 32, 11L)
    val bsig = graft.operators.DedupEmbeddingOp.bandSignatures(F.col("embedding"), 64, 8, 12, 11L)
    // warm
    noop(df); noop(df.withColumn("s", sig)); noop(df.withColumn("b", bsig))
    for (i <- 1 to 3) {
      timed(s"scan_only_$i")(noop(df))
      timed(s"hyperplane_udf_$i")(noop(df.withColumn("s", sig)))
      timed(s"bands_udf_$i")(noop(df.withColumn("b", bsig)))
    }
    spark.stop()
  }
}
