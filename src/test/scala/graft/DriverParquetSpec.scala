package graft

import graft.core.DriverParquet
import graft.core.DriverParquet._

/** The driver-side metadata parquet writer must be byte-compatible with
  * the `Seq(...).toDF.coalesce(1).write.parquet` jobs it replaces: same
  * Spark read schema (names, types, nullability) and the same Row values
  * for every type the index meta/centroids/pq tables use. */
class DriverParquetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_dp_$name").toString + "/t"

  private def assertSame(sparkDir: String, drvDir: String): Unit = {
    val a = spark.read.parquet(sparkDir)
    val b = spark.read.parquet(drvDir)
    assert(a.schema == b.schema,
      s"schema mismatch:\n spark: ${a.schema.treeString}\n driver: ${b.schema.treeString}")
    assert(a.collect().toSeq == b.collect().toSeq)
  }

  test("scalar meta row (int/long) matches the Spark write") {
    val s = tmp("meta"); val d = tmp("meta_d")
    Seq((3, 128, 32, 42L)).toDF("shingle_size", "num_hashes", "bands", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s)
    DriverParquet.overwrite(d, Seq(I32("shingle_size", Seq(3)),
      I32("num_hashes", Seq(128)), I32("bands", Seq(32)), I64("seed", Seq(42L))))
    assertSame(s, d)
    val r = spark.read.parquet(d).head()
    assert(r.getAs[Int]("bands") == 32 && r.getAs[Long]("seed") == 42L)
  }

  test("double-array rows (centroids shape) match the Spark write") {
    val s = tmp("cent"); val d = tmp("cent_d")
    Seq((0, Seq(1.0, 2.0)), (1, Seq(3.0, 4.0))).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s)
    DriverParquet.overwrite(d, Seq(I32("cell", Seq(0, 1)),
      DblArr("centroid", Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))))
    assertSame(s, d)
    val r = spark.read.parquet(d).orderBy("cell").collect()
    assert(r(1).getSeq[Double](r(1).fieldIndex("centroid")) == Seq(3.0, 4.0))
  }

  test("string-array row (exact-index columns shape) matches the Spark write") {
    val s = tmp("cols"); val d = tmp("cols_d")
    Seq(Tuple1(Seq("a", "b"))).toDF("columns")
      .coalesce(1).write.mode("overwrite").parquet(s)
    DriverParquet.overwrite(d, Seq(StrArr("columns", Seq(Seq("a", "b")))))
    assertSame(s, d)
  }

  test("string + boolean scalars match the Spark write") {
    val s = tmp("pqm"); val d = tmp("pqm_d")
    Seq((16, 8, 256, 64, 11L, "embedding"))
      .toDF("nlist", "m", "ksub", "dim", "seed", "vector_column")
      .coalesce(1).write.mode("overwrite").parquet(s)
    DriverParquet.overwrite(d, Seq(I32("nlist", Seq(16)), I32("m", Seq(8)),
      I32("ksub", Seq(256)), I32("dim", Seq(64)), I64("seed", Seq(11L)),
      Str("vector_column", Seq("embedding"))))
    assertSame(s, d)

    val sb = tmp("sim"); val db = tmp("sim_d")
    Seq(Tuple1(true)).toDF("simhash").coalesce(1).write.mode("overwrite").parquet(sb)
    DriverParquet.overwrite(db, Seq(Bool("simhash", Seq(true))))
    assertSame(sb, db)
  }

  test("overwrite writes the _SUCCESS marker after the part file") {
    val d = tmp("succ")
    DriverParquet.overwrite(d, Seq(I32("x", Seq(1, 2))))
    assert(new java.io.File(s"$d/_SUCCESS").isFile)
    assert(spark.read.parquet(d).count() === 2)
  }

  test("knn_ivfpq and knn_ivf_indexed reuse their prebuilt index on a second call") {
    val sf = java.nio.file.Files.createTempDirectory("graft_dp_sf").toString
    val rnd = new scala.util.Random(3)
    (0 until 400).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat), i % 4))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$sf/embeddings.parquet")
    val key = sf.replaceAll("[^A-Za-z0-9]", "_")
    // the index dirs and reuse markers the two gates key on
    for ((gate, idx, table) <- Seq(
        ("knn_ivfpq", s"/tmp/graft_ivfpq_u1_$key", "pq"),
        ("knn_ivf_indexed", s"/tmp/graft_ivf_u1_$key", "centroids"))) {
      try {
        def parts() = graft.core.GraftFs.listFilesRec(s"$idx/$table").map(_._1)
          .filter(_.contains("part-")).sorted
        assert(SparkEntry.queries(gate)(spark, sf).count() > 0)
        assert(new java.io.File(s"$idx/$table/_SUCCESS").isFile, gate)
        val built = parts()
        assert(SparkEntry.queries(gate)(spark, sf).count() > 0)
        // a rebuild rewrites the table under fresh part-file names
        assert(parts() === built, s"$gate rebuilt its index on the second call")
      } finally graft.core.GraftFs.deleteRec(idx)
    }
  }

  test("overwrite replaces previous contents") {
    val d = tmp("ow")
    DriverParquet.overwrite(d, Seq(I32("x", Seq(1, 2, 3))))
    DriverParquet.overwrite(d, Seq(I32("x", Seq(9))))
    assert(spark.read.parquet(d).collect().map(_.getInt(0)).toSeq == Seq(9))
  }
}
