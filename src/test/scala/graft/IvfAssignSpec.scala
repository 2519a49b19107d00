package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}
import org.apache.spark.ml.linalg.Vectors

/** The quantizer's broadcast assignment column must produce BIT-IDENTICAL
  * cell assignments to the closure-captured MLlib shape it replaced: the
  * same squares summed in the same order as Vectors.sqdist, ties to the
  * lower cell. Oracled ivf gates (dedup_embedding_ivf,
  * the exhaustive knn parities) depend on assignments staying put. */
class IvfAssignSpec extends SparkSpec {
  import spark.implicits._

  test("broadcast assignUdf matches the closure-captured assignment bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val cents = Array.tabulate(8)(i => (i, Vectors.dense(
      Array.fill(dim)(rnd.nextGaussian()))))
    val quantizer = new IvfIndex.Quantizer(cents.map(_._2.toArray))
    val vecs = (0 until 500).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "v")

    // the pre-r14 shape: closure-captured table, boxing map conversion,
    // MLlib's squared distance, the first (lowest) cell on ties
    val closureAssign = F.udf { v: Seq[Float] =>
      val q = Vectors.dense(v.map(_.toDouble).toArray)
      cents.minBy { case (_, c) => Vectors.sqdist(c, q) }._1
    }
    val a = df.withColumn("cell", closureAssign(F.col("v")))
      .select("id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val b = df.withColumn("cell", quantizer.assign(spark, F.col("v")))
      .select("id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a == b)
  }
}
