package graft

import org.apache.spark.sql.{functions => F}
import graft.operators.DedupEmbeddingOp

/** The native signature expressions (r14) must be BIT-IDENTICAL to the
  * scala UDFs they replaced: same seeded plane draw, same accumulation
  * order, same sign/bit packing — an index built with the UDF signatures
  * probes identically with the expression signatures. The reference UDFs
  * below are verbatim copies of the pre-r14 implementations. */
class SignatureExpressionSpec extends SparkSpec {
  import spark.implicits._

  private def refHyperplaneUdf(dim: Int, h: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(h, dim)(rnd.nextGaussian())
    F.udf { v: Seq[Float] =>
      var sig = 0L
      var i = 0
      while (i < h) {
        var dot = 0.0
        var j = 0
        val n = math.min(dim, v.length)
        while (j < n) { dot += planes(i)(j) * v(j); j += 1 }
        if (dot >= 0) sig |= (1L << i)
        i += 1
      }
      sig
    }
  }

  private def refBandsUdf(dim: Int, bands: Int, r: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bands * r, dim)(rnd.nextGaussian())
    F.udf { v: Seq[Float] =>
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var sig = 0L
        var i = 0
        while (i < r) {
          var dot = 0.0
          var j = 0
          val n = math.min(dim, v.length)
          val p = planes(b * r + i)
          while (j < n) { dot += p(j) * v(j); j += 1 }
          if (dot >= 0) sig |= (1L << i)
          i += 1
        }
        out(b) = sig
        b += 1
      }
      out
    }
  }

  // random vectors plus the edge shapes: shorter than dim, longer than
  // dim, all-zero (dot = 0 sets every bit), empty
  private def fixture(dim: Int) = {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 300).map { i =>
      val len = i % 10 match {
        case 0 => dim - 3
        case 1 => dim + 5
        case 2 => 0
        case _ => dim
      }
      (i.toLong, Seq.fill(len)(rnd.nextGaussian().toFloat))
    } :+ (9999L, Seq.fill(dim)(0.0f))
    val dir = java.nio.file.Files.createTempDirectory("graft_sigexpr").toString + "/t"
    rows.toDF("id", "v").write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("hyperplane_sig expression equals the pre-r14 UDF bit-for-bit") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val df = fixture(16)
    for (nd <- Seq(false, true)) {
      val got = df.withColumn("s",
          DedupEmbeddingOp.hyperplaneSig(F.col("v"), 16, 32, 11L, ndExplode = nd))
        .select("id", "s").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = df.withColumn("s", refHyperplaneUdf(16, 32, 11L)(F.col("v")))
        .select("id", "s").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"nd=$nd")
    }
  }

  test("band_sigs expression equals the pre-r14 UDF bit-for-bit") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val df = fixture(16)
    for (nd <- Seq(false, true)) {
      val got = df.withColumn("b",
          DedupEmbeddingOp.bandSignatures(F.col("v"), 16, 8, 12, 11L, ndExplode = nd))
        .select("id", "b").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toMap
      val want = df.withColumn("b", refBandsUdf(16, 8, 12, 11L)(F.col("v")))
        .select("id", "b").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toMap
      assert(got == want, s"nd=$nd")
    }
  }

  test("minhash_sig expression equals the pre-r14 UDF bit-for-bit") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import graft.operators.Shingles
    val k = 128; val seed = 42L
    val refUdf = {
      val coeffs = Shingles.minhashCoefficients(k, seed)
      val as = coeffs.map(_._1).toArray
      val bs = coeffs.map(_._2).toArray
      val p = Shingles.MersennePrime
      F.udf { hs: Seq[Long] =>
        val sig = Array.fill(k)(Long.MaxValue)
        hs.foreach { h0 =>
          val x = ((h0 % p) + p) % p
          var i = 0
          while (i < k) {
            val v = (as(i) * x + bs(i)) % p
            if (v < sig(i)) sig(i) = v
            i += 1
          }
        }
        sig
      }
    }
    val rnd = new scala.util.Random(9)
    val rows = (0 until 200).map(i =>
      (i.toLong, Seq.fill(if (i % 7 == 0) 0 else 50 + i % 40)(rnd.nextLong())))
    val dir = java.nio.file.Files.createTempDirectory("graft_mhsig").toString + "/t"
    rows.toDF("id", "hs").write.parquet(dir)
    val df = spark.read.parquet(dir)
    val got = df.withColumn("s", Shingles.minhashSignature(F.col("hs"), k, seed))
      .select("id", "s").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toMap
    val want = df.withColumn("s", refUdf(F.col("hs")))
      .select("id", "s").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toMap
    assert(got == want)
  }

  test("minhash_bands equals the xxhash64(concat_ws(slice)) band expression it replaced") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import graft.functions.MinhashBands
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def reference(bands: Int, r: Int) =
      F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
        b => F.xxhash64(F.concat_ws("_", F.slice(F.col("sig"), b * F.lit(r) + 1, F.lit(r)))))
    val rnd = new scala.util.Random(17)
    val edge = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 2147483646L)
    // full, short and empty signatures; null elements; one null array
    val sigs: Seq[Option[Seq[Option[Long]]]] = None +: (0 until 300).map { i =>
      val len = i % 5 match { case 1 => 0; case 2 => rnd.nextInt(128); case _ => 128 }
      Some(Seq.fill(len) {
        if (i % 3 == 0 && rnd.nextInt(10) == 0) None
        else Some(if (rnd.nextInt(8) == 0) edge(rnd.nextInt(edge.size)) else rnd.nextLong())
      })
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_mhbands").toString + "/t"
    sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "sig")
      .write.parquet(dir)
    val df = spark.read.parquet(dir)
    for ((bands, r) <- Seq((32, 4), (5, 3), (1, 128), (40, 4))) {
      def hashes(c: org.apache.spark.sql.Column) = df.select(F.col("id"), c.as("h")).collect()
        .map(row => row.getLong(0) -> row.getSeq[Long](1).toVector).toMap
      val got = hashes(F.call_function("minhash_bands", F.col("sig"), F.lit(bands), F.lit(r)))
      val want = hashes(reference(bands, r))
      assert(got.size === sigs.size)
      assert(got === want, s"bands=$bands r=$r")
      // the interpreted path agrees with the codegen'd one
      for (i <- Seq(0, 1, 2, 3, 6)) {
        val elems = sigs(i).map(_.map(_.fold[Any](null)(x => x)).toArray)
        val lit = Literal(elems.map(new GenericArrayData(_)).orNull,
          ArrayType(LongType, containsNull = true))
        val interpreted = MinhashBands(lit, bands, r).eval(null)
          .asInstanceOf[GenericArrayData].toLongArray().toVector
        assert(interpreted === want(i.toLong), s"interpreted, bands=$bands r=$r row $i")
      }
    }
    // the band join's shape is unchanged: (pos, col) rows, `bands` per signature
    assert(df.select(F.posexplode(F.call_function("minhash_bands", F.col("sig"),
      F.lit(32), F.lit(4)))).count() === 32L * sigs.size)
  }

  test("an int argument given as a long outside the int range fails loud, naming it") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cases = Seq(
      "minhash_sig(array(1L, 2L), 4294967297L, 1L)" -> "k",
      "hyperplane_sig(array(1f), 1, -4294967295L, 1L, false)" -> "h",
      "band_sigs(array(1f), 4294967297L, 2, 2, 1L, false)" -> "dim")
    for ((call, arg) <- cases) {
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains(s"$arg: ") && msgs.contains("outside the int range"), s"$call: $msgs")
    }
    // an in-range long still folds
    assert(spark.sql("SELECT size(minhash_sig(array(1L, 2L), 4L, 1L))").head().getInt(0) === 4)
  }

  test("interpreted eval matches codegen (nullSafeEval path)") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import graft.functions.HyperplaneSignature
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val rnd = new scala.util.Random(5)
    val v = Array.fill(16)(rnd.nextGaussian().toFloat)
    val lit = Literal(new GenericArrayData(v.map(_.asInstanceOf[Any])),
      ArrayType(FloatType, containsNull = false))
    val expr = HyperplaneSignature(lit, 16, 32, 11L, markNondeterministic = false)
    val interpreted = expr.eval(null).asInstanceOf[Long]
    val viaDf = fixtureOne(v)
    assert(interpreted === viaDf)
  }

  private def fixtureOne(v: Array[Float]): Long = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sig1").toString + "/t"
    Seq((1L, v.toSeq)).toDF("id", "v").write.parquet(dir)
    spark.read.parquet(dir)
      .withColumn("s", DedupEmbeddingOp.hyperplaneSig(F.col("v"), 16, 32, 11L))
      .select("s").head().getLong(0)
  }
}
