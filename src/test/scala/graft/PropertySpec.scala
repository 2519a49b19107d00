package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.config.Cfg
import graft.core.StageContext
import graft.operators._

/** ScalaCheck-generator-driven properties over the operator layer
  * (SURVEY §5.2). Plain FunSuite + seeded Gen sampling (the scalatestplus
  * bridge is not in the offline cache), 10 samples per property.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(-100L, 100L)))

  private def samples[A](gen: Gen[A], n: Int = 10): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("filter partition property: p union not-p == input") {
    for ((rows, i) <- samples(rowsGen).zipWithIndex) {
      val pivot = (i * 37 - 100).toLong
      val df = rows.toDF("id", "v").cache()
      val p = FilterOp(StageContext.one(spark, df, Cfg.of(
        "column" -> "v", "operator" -> ">=", "value" -> pivot)))
      val np = FilterOp(StageContext.one(spark, df, Cfg.of(
        "column" -> "v", "operator" -> "<", "value" -> pivot)))
      assert(p.count() + np.count() == df.count())
      df.unpersist()
    }
  }

  test("distinct idempotence") {
    for (rows <- samples(rowsGen, 5)) {
      val df = rows.toDF("id", "v")
      val once = DistinctOp(StageContext.one(spark, df, Cfg.empty))
      val twice = DistinctOp(StageContext.one(spark, once, Cfg.empty))
      assert(once.count() == twice.count())
    }
  }

  test("groupby sum over one key == reduce sum") {
    for (rows <- samples(rowsGen, 5)) {
      val df = rows.toDF("id", "v")
      val g = GroupByOp(StageContext.one(spark, df, Cfg.of(
        "by" -> "id",
        "aggregations" -> Seq(Map("column" -> "v", "operation" -> "sum", "output_column" -> "s")))))
      val total = g.agg(org.apache.spark.sql.functions.sum("s")).head().getLong(0)
      val r = ReduceOp(StageContext.one(spark, df, Cfg.of(
        "column" -> "v", "operation" -> "sum"))).head().getLong(0)
      assert(total == r)
    }
  }

  test("encrypt then decrypt is identity for arbitrary strings") {
    val strGen = Gen.listOfN(5, Gen.asciiPrintableStr)
    for (strs <- samples(strGen, 5)) {
      val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      val key = "0123456789abcdef0123456789abcdef"
      val enc = EncryptOp(StageContext.one(spark, df, Cfg.of(
        "column" -> "s", "key" -> key, "output_column" -> "e")))
      val dec = DecryptOp(StageContext.one(spark, enc, Cfg.of(
        "column" -> "e", "key" -> key, "output_column" -> "d")))
      assert(dec.select("s", "d").collect().forall(r => r.getString(0) == r.getString(1)))
    }
  }

  test("chunk sizes: all full except possibly last; total preserved") {
    val cfgGen = Gen.zip(Gen.choose(1, 30), Gen.choose(1, 10))
    for ((n, size) <- samples(cfgGen)) {
      val df = (1 to n).map(i => (i.toLong, i)).toDF("id", "x")
      val out = ChunkOp(StageContext.one(spark, df, Cfg.of(
        "batch_size" -> size, "order_by" -> Seq("id"))))
        .orderBy("chunk_id").collect()
      val sizes = out.map(_.getSeq[Any](1).size).toSeq
      assert(sizes.sum == n)
      assert(sizes.init.forall(_ == size))
      assert(sizes.last <= size)
    }
  }

  test("union count additivity") {
    for ((a, b) <- samples(Gen.zip(rowsGen, rowsGen), 5)) {
      val dfa = a.toDF("id", "v")
      val dfb = b.toDF("id", "v")
      val u = UnionOp(StageContext(spark, Seq("a" -> dfa, "b" -> dfb), Cfg.empty))
      assert(u.count() == dfa.count() + dfb.count())
    }
  }

  test("sort is a permutation and is ordered") {
    for (rows <- samples(rowsGen, 5)) {
      val df = rows.toDF("id", "v")
      val sorted = SortOp(StageContext.one(spark, df, Cfg.of("by" -> "v")))
        .select("v").collect().map(_.getLong(0)).toSeq
      assert(sorted == rows.map(_._2).sorted)
    }
  }

  // as-of join vs an in-memory brute-force reference: random keyed
  // timelines with deliberate timestamp collisions (small t domain)
  private val asofGen: Gen[(List[(String, Long, Long)], List[(String, Long, Long)])] = {
    val key = Gen.oneOf("a", "b", "c")
    // left rows get unique value ids; right DEDUPED per (key,t) below so
    // the matched payload is deterministic
    val row = Gen.zip(key, Gen.choose(0L, 20L), Gen.choose(0L, 1000L))
    Gen.zip(Gen.nonEmptyListOf(row), Gen.nonEmptyListOf(row))
  }

  test("join.asof matches brute-force latest-at-or-before per key") {
    for (((left, right0), i) <- samples(asofGen, 8).zipWithIndex) {
      val strict = i % 2 == 1
      // dedup right per (key,t) keeping max payload — same rule as the DF
      val right = right0.groupBy(r => (r._1, r._2)).map { case ((k, t), rs) =>
        (k, t, rs.map(_._3).max)
      }.toList
      val ldf = left.toDF("k", "t", "lv")
      val rdf = right.toDF("k", "t", "rv")
      val out = AsofJoinOp(StageContext(spark,
        Seq("l" -> ldf, "r" -> rdf),
        Cfg.of("by" -> Seq("k"), "on" -> "t", "strict" -> strict,
          "right_prefix" -> "m_")))
        .select("k", "t", "lv", "m_rv")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toSeq.sorted

      val expected = left.map { case (k, t, lv) =>
        val cands = right.filter(r => r._1 == k &&
          (if (strict) r._2 < t else r._2 <= t))
        val m = if (cands.isEmpty) None
                else Some(cands.maxBy(_._2)._3)
        (k, t, lv, m)
      }.sorted
      assert(out == expected, s"sample $i strict=$strict")
    }
  }

  private val rangeGen: Gen[(List[Long], List[(Long, Long, Long)])] = {
    val point = Gen.choose(0L, 100L)
    val range = Gen.zip(Gen.choose(0L, 90L), Gen.choose(0L, 25L))
      .map { case (lo, w) => (lo, lo + w) }
    Gen.zip(Gen.nonEmptyListOf(point), Gen.nonEmptyListOf(range))
      .map { case (ps, rs) =>
        (ps, rs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) })
      }
  }

  test("join.range bucketed matches brute-force interval containment") {
    for (((points, ranges), i) <- samples(rangeGen, 6).zipWithIndex) {
      val pdf = points.toDF("x")
      val rdf = ranges.toDF("rid", "lo", "hi")
      val width = Seq(3.0, 10.0, 50.0)(i % 3)
      val out = RangeJoinOp(StageContext(spark,
        Seq("l" -> pdf, "r" -> rdf),
        Cfg.of("value" -> "x", "lo" -> "lo", "hi" -> "hi", "bucket_width" -> width)))
        .select("x", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val expected = (for {
        x <- points
        (rid, lo, hi) <- ranges if x >= lo && x <= hi
      } yield (x, rid)).sorted
      assert(out == expected, s"sample $i width=$width")
    }
  }

  private val textGen: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.nonEmptyListOf(
      Gen.oneOf("the", "cat", "sat", "mat", "dog", "ran", "alpha", "beta"))
      .map(_.mkString(" ")))

  test("chunk.text reassembly: dropping the overlap prefix rebuilds the doc") {
    for ((texts, i) <- samples(textGen, 5).zipWithIndex) {
      val maxT = 2 + i % 4           // budgets 2..5
      val overlap = i % maxT          // overlaps 0..maxT-1
      val df = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
      val chunks = ChunkTextOp(StageContext.one(spark, df, Cfg.of(
        "max_tokens" -> maxT.toLong, "overlap" -> overlap.toLong)))
        .select("doc_id", "chunk_id", "chunk")
        .as[(Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
      texts.zipWithIndex.foreach { case (t, j) =>
        val norm = t.trim.split("\\s+").toList
        val rebuilt = chunks(j.toLong) match {
          case head :: tail =>
            head.split(" ").toList ++ tail.flatMap(_.split(" ").drop(overlap))
          case Nil => Nil
        }
        assert(rebuilt == norm, s"sample $i doc $j budget=$maxT overlap=$overlap")
      }
    }
  }

  test("decontaminate filter + semi partition the corpus; self is all-contaminated") {
    for ((texts, i) <- samples(textGen, 5).zipWithIndex) {
      val df = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
      val bench = texts.take(1).map(t => (100L, t)).toDF("doc_id", "text")
      def mode(m: String) = DecontaminateOp(StageContext(spark,
        Seq("t" -> df, "b" -> bench), Cfg.of("n" -> 2L, "mode" -> m))).count()
      assert(mode("filter") + mode("semi") == df.count(), s"sample $i")
      // every doc shares all its grams with itself
      val self = DecontaminateOp(StageContext(spark, Seq("t" -> df, "b" -> df),
        Cfg.of("n" -> 2L, "mode" -> "semi")))
      assert(self.count() == df.count(), s"sample $i self")
    }
  }

  test("importance topk is a k-subset of the pool with maximal weights") {
    for ((texts, i) <- samples(textGen, 5).zipWithIndex) {
      val df = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
      val target = texts.takeRight(1).map(t => (500L, t)).toDF("doc_id", "text")
      val k = 1 + i % 3
      val ann = ImportanceSampleOp(StageContext(spark,
        Seq("r" -> df, "t" -> target), Cfg.of("mode" -> "annotate")))
        .select("doc_id", "log_importance").as[(Long, Double)].collect().toMap
      val picked = ImportanceSampleOp(StageContext(spark,
        Seq("r" -> df, "t" -> target), Cfg.of("mode" -> "topk", "k" -> k.toLong)))
        .select("doc_id").as[Long].collect().toSet
      assert(picked.size == math.min(k, texts.size), s"sample $i")
      val worstPicked = picked.map(ann).min
      val bestSkipped = (ann.keySet -- picked).map(ann).foldLeft(Double.NegativeInfinity)(math.max)
      assert(worstPicked >= bestSkipped, s"sample $i: topk must dominate")
    }
  }

  test("cosine_sim expression matches the reference UDF on arbitrary vectors") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vecGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.choose(-10.0, 10.0)),
      Gen.nonEmptyListOf(Gen.choose(-10.0, 10.0)))
      // zero-norm vectors divide by zero in both implementations — the
      // property pins equality on the defined domain
      .suchThat { case (a, b) => a.exists(_ != 0.0) && b.exists(_ != 0.0) }
    for (((a, b), i) <- samples(vecGen, 20).zipWithIndex) {
      val df = Seq((a, b)).toDF("a", "b")
      val got = df.select(
        org.apache.spark.sql.functions.call_function("cosine_sim",
          org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).alias("e"),
        DedupEmbeddingOp.cosineUdf(
          org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).alias("u")).head()
      assert(math.abs(got.getDouble(0) - got.getDouble(1)) < 1e-12,
        s"sample $i: expression ${got.getDouble(0)} != udf ${got.getDouble(1)}")
    }
  }

  test("jaccard_sim expression matches exact set arithmetic on arbitrary arrays") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val arrGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.choose(0L, 30L)),
      Gen.nonEmptyListOf(Gen.choose(0L, 30L)))
    for (((a, b), i) <- samples(arrGen, 20).zipWithIndex) {
      val df = Seq((a, b)).toDF("a", "b")
      val got = df.select(
        org.apache.spark.sql.functions.call_function("jaccard_sim",
          org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).alias("j")).head().getDouble(0)
      val (sa, sb) = (a.toSet, b.toSet)
      val want = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(got - want) < 1e-12, s"sample $i: $got != $want")
    }
  }

  test("banded signatures: identity recall — a vector collides with itself in every band") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vGen = Gen.listOfN(16, Gen.choose(-5.0, 5.0)).map(_.map(_.toFloat))
    for ((v, i) <- samples(vGen, 10).zipWithIndex) {
      val df = Seq((1L, v.toArray), (2L, v.toArray)).toDF("id", "vec")
      val sigs = df.select(org.apache.spark.sql.functions.col("id"),
        DedupEmbeddingOp.bandSignatures(
          org.apache.spark.sql.functions.col("vec"), 16, 8, 12, 99L).alias("bsig"))
        .collect().map(r => r.getSeq[Long](1))
      assert(sigs(0) === sigs(1), s"sample $i: identical vectors must share every band")
      assert(sigs(0).length === 8)
    }
  }
  test("knn.join exhaustive index probes equal brute force on random corpora") {
    // seeded random vectors (some duplicated to force multi-collision
    // pairs — the TreeSet-heap dedup path), three seeds, both lsh
    // layouts at full probe width: the pruned probe must reproduce batch
    // brute force exactly, rank-for-rank
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val base = (0 until 60).map { i =>
        (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
      }
      // every 5th vector is a scaled copy of its predecessor (cosine 1 —
      // tie-heavy ranking) to stress duplicate/tie handling
      val vecs = base.map { case (i, v) =>
        if (i % 5 == 4) (i, base((i - 1).toInt)._2.map(_ * 2f)) else (i, v)
      }.toDF("vec_id", "embedding")
      val queries = vecs.filter(org.apache.spark.sql.functions.col("vec_id") < 4)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "corpus_id", "cosine", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val brute = rows(KnnJoinOp(StageContext(spark,
        Seq("q" -> queries, "c" -> vecs),
        Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 6))))
      val bandsIdx = java.nio.file.Files.createTempDirectory(s"prop_kj_b$seed").toString
      IndexBuildOp(StageContext.one(spark, vecs, Cfg.of(
        "type" -> "lsh", "blocking" -> "bands", "path" -> bandsIdx,
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "bands" -> 3, "band_planes" -> 4, "seed" -> (100 + seed),
        "partition_dirs" -> 4)))
      assert(rows(KnnJoinOp(StageContext.one(spark, queries, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 6,
        "index_path" -> bandsIdx, "probe_hamming" -> 4)))) === brute,
        s"bands seed=$seed")
      val pigIdx = java.nio.file.Files.createTempDirectory(s"prop_kj_p$seed").toString
      IndexBuildOp(StageContext.one(spark, vecs, Cfg.of(
        "type" -> "lsh", "path" -> pigIdx,
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "num_planes" -> 12, "blocks" -> 3, "seed" -> (200 + seed),
        "partition_dirs" -> 4)))
      assert(rows(KnnJoinOp(StageContext.one(spark, queries, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 6,
        "index_path" -> pigIdx, "probe_hamming" -> 4)))) === brute,
        s"pigeonhole seed=$seed")
    }
  }
}

