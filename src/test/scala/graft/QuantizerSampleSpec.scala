package graft

import org.apache.spark.sql.{functions => F}
import graft.config.Cfg
import graft.core.StageContext
import graft.operators.{IndexBuildOp, Pq, IndexSnapshot}

/** The quantizer-training draw must be UNIFORM over the corpus, not the
  * first rows in plan order: a domain-sorted corpus fed through a plain
  * `limit(max_train)` trains the coarse quantizer on one domain's slice,
  * so every other domain piles into whichever trained cell is nearest and
  * all cell-pruned probes lose selectivity. These specs pin the fix
  * (Pq.trainSample's seeded content-hash order) on exactly that adversary:
  * a multi-domain fixture SORTED by domain, with max_train equal to one
  * domain's row count — the old `.limit` draw would sample domain 0 only
  * and fail every assertion here. */
class QuantizerSampleSpec extends SparkSpec {

  private val Domains = 4
  private val PerDomain = 300
  private val Dim = 8

  /** 4 well-separated domains × 300 rows, dim 8, SORTED by domain and
    * coalesced to one partition so plan order == domain order (the
    * adversarial layout for a first-rows draw). Noise is seeded. */
  private lazy val sortedCorpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = for {
      d <- 0 until Domains
      i <- 0 until PerDomain
    } yield {
      val v = Array.tabulate(Dim)(_ => (d * 10.0 + rnd.nextGaussian() * 0.5).toFloat)
      (d.toLong * PerDomain + i, d, v.toSeq)
    }
    rows.toDF("id", "domain", "embedding").coalesce(1)
  }

  /** Which domain a sampled vector came from (centers are 10·d). */
  private def domainOf(v: Array[Double]): Int =
    math.round(v.sum / v.length / 10.0).toInt

  test("trainSample draws from every domain of a domain-sorted corpus") {
    val sample = Pq.trainSample(sortedCorpus, F.col("embedding"), PerDomain, seed = 11L)
    assert(sample.length === PerDomain)
    val byDomain = sample.map(domainOf).groupBy(identity).view.mapValues(_.length).toMap
    assert(byDomain.keySet === (0 until Domains).toSet,
      s"a uniform draw must span all $Domains domains; the old first-rows " +
      s"limit() draw sees only domain 0 — got $byDomain")
    // uniform 300-of-1200: each domain expects ~75; 40 is ~4.5 sigma out
    (0 until Domains).foreach { d =>
      assert(byDomain(d) >= 40, s"domain $d underrepresented: $byDomain")
    }
  }

  test("trainSample is deterministic and independent of partitioning/plan order") {
    val a = Pq.trainSample(sortedCorpus, F.col("embedding"), 200, seed = 7L)
    val b = Pq.trainSample(sortedCorpus, F.col("embedding"), 200, seed = 7L)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq, "same input + seed → same sample")
    // a different physical layout (shuffled 7-partition plan, different
    // row order) must yield the SAME sample set — the draw is a function
    // of content + seed, not of storage order
    val c = Pq.trainSample(sortedCorpus.repartition(7, F.col("id")),
      F.col("embedding"), 200, seed = 7L)
    assert(a.map(_.toSeq).sortBy(_.toString) === c.map(_.toSeq).sortBy(_.toString),
      "sample must not depend on physical row order")
    val d = Pq.trainSample(sortedCorpus, F.col("embedding"), 200, seed = 8L)
    assert(a.map(_.toSeq).toSet !== d.map(_.toSeq).toSet, "seed must matter")
  }

  test("ivf build over a sorted corpus yields balanced cell occupancy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qsample_ivf").toString
    IndexBuildOp(StageContext.one(spark, sortedCorpus, Cfg.of(
      "type" -> "ivf", "path" -> dir, "vector_column" -> "embedding",
      "nlist" -> 12, "max_train" -> PerDomain, "seed" -> 11)))
    val occ = Pq.cellOccupancy(IndexSnapshot.corpusDir(dir))
    val total = occ.values.sum
    assert(total === (Domains * PerDomain).toLong)
    val maxShare = occ.values.max.toDouble / total
    // with the old first-rows draw all 12 centroids live inside domain 0
    // and each other domain lands WHOLE in one cell → maxShare >= 0.25;
    // a uniform draw splits every domain across cells
    assert(maxShare < 0.25,
      f"hottest cell holds $maxShare%.2f of the corpus — quantizer trained on a biased sample")
    assert(Pq.cellSkewWarning("spec", occ.values, 12).isEmpty,
      "balanced build must not trip the skew advisory")
  }

  test("ivfpq build over a sorted corpus yields balanced cell occupancy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qsample_pq").toString
    IndexBuildOp(StageContext.one(spark, sortedCorpus, Cfg.of(
      "type" -> "ivfpq", "path" -> dir, "vector_column" -> "embedding",
      "nlist" -> 12, "m" -> 4, "ksub" -> 16, "max_train" -> PerDomain, "seed" -> 11)))
    val occ = Pq.cellOccupancy(IndexSnapshot.corpusDir(dir))
    val total = occ.values.sum
    assert(total === (Domains * PerDomain).toLong)
    val maxShare = occ.values.max.toDouble / total
    assert(maxShare < 0.25,
      f"hottest cell holds $maxShare%.2f of the corpus — quantizer trained on a biased sample")
  }

  test("ivf draw prefilter: duplicate-heavy corpus falls back instead of starving") {
    // Duplicate vectors share one draw key (the hash is content-only, by
    // design), so the prefilter's keep-threshold — sized from the TOTAL
    // row count — can reject every distinct key and starve the draw. Pick
    // a seed where ALL distinct keys fall above the threshold: the old
    // code then trains on an empty sample and throws 'empty input' on a
    // non-empty corpus; the fixed code detects the short draw and retries
    // unfiltered.
    import spark.implicits._
    val distinct = (0 until 8).map(d =>
      Array.tabulate(Dim)(i => (d * 10.0 + i).toFloat).toSeq)
    val rows = for (d <- 0 until 8; c <- 0 until 256)
      yield (d.toLong * 256 + c, distinct(d))
    val dataDir = java.nio.file.Files.createTempDirectory("graft_dup_data").toString
    rows.toDF("id", "embedding").write.mode("overwrite").parquet(dataDir)
    val corpus = spark.read.parquet(dataDir) // pure scan → footer row count
    val maxTrain = 100
    val keep = math.max(1L, ((1L << 40).toDouble * 2.0 * maxTrain / rows.size).toLong)
    val keysOf = (seed: Int) => corpus.select(
        F.pmod(F.xxhash64(F.lit(seed.toLong), F.col("embedding").cast("array<double>")),
          F.lit(1L << 40)).as("u"))
      .distinct().as[Long].collect()
    val seed = (0 until 200).find(s => keysOf(s).forall(_ >= keep))
      .getOrElse(fail("no adversarial seed found — prefilter key derivation changed?"))
    val dir = java.nio.file.Files.createTempDirectory("graft_dup_ivf").toString
    IndexBuildOp(StageContext.one(spark, corpus, Cfg.of(
      "type" -> "ivf", "path" -> dir, "vector_column" -> "embedding",
      "nlist" -> 4, "max_train" -> maxTrain, "seed" -> seed)))
    val occ = Pq.cellOccupancy(IndexSnapshot.corpusDir(dir))
    assert(occ.values.sum === rows.size.toLong,
      "every corpus row must be indexed despite the starved prefiltered draw")
  }

  test("index.stats surfaces cell_skew for cell families, null elsewhere") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qsample_stats").toString
    IndexBuildOp(StageContext.one(spark, sortedCorpus, Cfg.of(
      "type" -> "ivf", "path" -> dir, "vector_column" -> "embedding",
      "nlist" -> 12, "max_train" -> PerDomain, "seed" -> 11)))
    val row = graft.operators.IndexStatsOp(StageContext.one(spark, sortedCorpus,
      Cfg.of("path" -> dir))).head()
    val skew = row.getAs[Double]("cell_skew")
    // uniform draw over the sorted corpus → near-balanced cells (1.0 =
    // perfect; the old first-rows draw reads >= 3.0 here: one whole
    // domain of the 4 piled into a single cell of 12)
    assert(skew >= 1.0 && skew < 3.0, s"cell_skew $skew")
    // non-cell family: null column
    val mh = java.nio.file.Files.createTempDirectory("graft_qsample_mh").toString
    import spark.implicits._
    IndexBuildOp(StageContext.one(spark,
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"),
      Cfg.of("type" -> "minhash", "path" -> mh, "id_column" -> "doc_id",
        "text_column" -> "text", "num_hashes" -> 64, "bands" -> 16, "seed" -> 7)))
    val mhRow = graft.operators.IndexStatsOp(StageContext.one(spark, sortedCorpus,
      Cfg.of("path" -> mh))).head()
    assert(mhRow.isNullAt(mhRow.fieldIndex("cell_skew")))
  }

  test("cellSkewWarning thresholds") {
    // balanced: 12 cells × 100 rows
    assert(Pq.cellSkewWarning("op", Seq.fill(12)(100L), 12).isEmpty)
    // mild imbalance (3x the fair share) stays quiet
    assert(Pq.cellSkewWarning("op", Seq(300L, 100L, 100L, 100L) ++ Seq.fill(8)(100L), 12).isEmpty)
    // one cell holding half a 12-cell corpus = 6x fair share → warn
    val skewed = Pq.cellSkewWarning("op", Seq(1100L) ++ Seq.fill(11)(100L), 12)
    assert(skewed.nonEmpty && skewed.get.contains("op") && skewed.get.contains("1100"))
    // degenerate settings never warn
    assert(Pq.cellSkewWarning("op", Seq(500L), 1).isEmpty)
    assert(Pq.cellSkewWarning("op", Nil, 12).isEmpty)
  }
}
