package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._

/** index.recall — measured recall@k of an index's PRUNED probe against the
  * exact answer, as a maintenance verb: the operational form of the
  * observation that exhaustive-parity checks (nprobe = nlist) are blind to
  * quantizer quality. An ivf/ivfpq index degrades SILENTLY: appends drift
  * away from the frozen training distribution, a skewed quantizer crowds
  * cells, and fixed-nprobe probes lose recall with no error anywhere —
  * `index.stats`' cell_skew shows the layout symptom, this verb measures
  * the consequence. Run it after heavy append traffic (or on a schedule
  * next to index.compact) and trigger a mode=overwrite retrain when the
  * number drops.
  *
  * Method: draw `queries` vectors from the corpus itself by the seeded
  * content-hash order (deterministic, layout-independent — the same draw
  * discipline as the trainers), compute the exact top-k for ALL queries in
  * ONE corpus pass (per-partition bounded heaps, q·k driver merge — never
  * q separate scans), probe each query through the index at the
  * configured `nprobe` (+ `rerank` for ivfpq), and report
  * |probe ∩ exact| / |exact| per query.
  *
  * Output: one summary row (path, queries, k, nprobe, mean_recall,
  * min_recall), or one row per query (query_id, recall) with
  * `per_query = true`. At nprobe = nlist the probe IS brute force, so
  * mean_recall = 1.0 exactly — the oracle-able calibration point the
  * index_recall_exhaustive gate pins; pruned settings are
  * quantizer-dependent (rows-only territory).
  *
  * ivf / ivfpq only: lsh hyperplanes are fixed at build time and do not
  * drift with appends, and the set-membership families (exact / minhash /
  * ngram / simhash) have no probe-recall notion.
  *
  * 100 TB shape: one full corpus scan (the exact side — unavoidable for
  * EXACT ground truth, amortized over all q queries), q partition-pruned
  * probe jobs (the thing under test), driver state bounded by
  * partitions × q × (k + slack) narrow candidate tuples. For scheduled
  * checks where even one full scan per measurement is too much,
  * `corpus_sample = f` measures recall WITHIN a content-hash id draw of
  * the corpus (both truth and probe restricted to the same sample — an
  * unbiased within-sample estimator, 1.0 ≡ today; see DESIGN_NOTES
  * "corpus_sample").
  */
object IndexRecallOp extends Stage {
  val name = "index.recall"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val spark = ctx.spark
    import spark.implicits._
    val perQuery = cfg.boolOr("per_query", false)
    if (cfg.boolOr("_explain_only", false))
      return if (perQuery) Seq.empty[(String, Double)].toDF("query_id", "recall")
      else Seq.empty[(String, Long, Long, Long, Double, Double)]
        .toDF("path", "queries", "k", "nprobe", "mean_recall", "min_recall")
    val path = cfg.str("path")
    val k = cfg.longOr("k", 10L).toInt
    val nprobe = cfg.longOr("nprobe", 4L).toInt
    val nQueries = cfg.longOr("queries", 20L).toInt
    val seed = cfg.longOr("seed", 11L)
    if (k < 1 || nprobe < 1 || nQueries < 1) throw new GraftConfigError(
      s"index.recall: k, nprobe and queries must be >= 1 (got k=$k, nprobe=$nprobe, queries=$nQueries)")
    // corpus_sample < 1.0: measure recall WITHIN a content-hash draw of
    // the corpus instead of against the full exact ground truth — the
    // scheduled-check shape at 100 TB, where one full corpus scan per
    // recall measurement is the wrong default cost. Both sides restrict
    // to the same sample (truth = exact top-k among sampled rows; probe =
    // the pruned probe's ranking filtered to sampled rows), so the number
    // is recall@k of the index on an exchangeable subcorpus — an unbiased
    // estimate under exchangeable id draws, see DESIGN_NOTES. 1.0 (the
    // default) is byte-identical to the unsampled path.
    val frac = cfg.doubleOr("corpus_sample", 1.0)
    if (frac <= 0.0 || frac > 1.0) throw new GraftConfigError(
      s"index.recall: corpus_sample must be in (0, 1], got $frac")
    val sampled = frac < 1.0
    val idCol = cfg.strOr("id_column", "vec_id")

    val vecCol = IvfIndex.open(ctx, name, path, expected = IndexCatalog.Ivf.copy(hint = Some(
        "recall is a property of cell-pruned ANN probes; lsh planes are fixed at build and " +
        "the set-membership kinds have no probe-recall notion")))
      .vectorColumn(cfg.strOr("vector_column", "embedding"))
    val corpusDir = IndexSnapshot.corpusDir(path)
    val files = IndexSnapshot.files(corpusDir, s"index.recall: no corpus at $path")
    if (files.isEmpty) throw new GraftPlanError(
      s"index.recall: the index at $path has an empty corpus — nothing to measure")
    val corpus = spark.read.option("basePath", GraftFs.qualified(corpusDir))
      .parquet(files: _*)

    // deterministic query draw from the corpus (content-hash order)
    val narrow = corpus.select(F.col(idCol).cast("string").as("_id"),
      F.col(vecCol).cast("array<double>").as("_v"))
    val qRows: Array[(String, Array[Double])] = narrow
      .orderBy(F.pmod(F.xxhash64(F.lit(seed), F.col("_v")), F.lit(1L << 40)), F.col("_v"))
      .limit(nQueries).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
    val q = qRows.length
    val qVecs = qRows.map(_._2)
    val qNorms = qVecs.map(v => math.sqrt(v.map(x => x * x).sum))

    // sample membership keyed on the ID's content hash (NOT the vector's:
    // the query draw above hashes vectors with `seed`, and reusing that
    // key would correlate the truth sample with the query set). An id key
    // also lets the PROBE side test membership from its (query_id,
    // corpus_id) output alone — one projection, never a corpus re-scan.
    // The seed is decorrelated from the query-draw seed by a fixed odd
    // multiplier; deterministic for a given (seed, corpus).
    val sampleSeed = seed * 0x9E3779B9L + 1L
    val sampleKeep = (frac * (1L << 40).toDouble).toLong
    def member(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      F.pmod(F.xxhash64(F.lit(sampleSeed), id), F.lit(1L << 40)) < F.lit(sampleKeep)
    val truthSide = if (sampled) narrow.filter(member(F.col("_id"))) else narrow

    // exact ground truth for ALL queries in ONE pass: per-partition
    // bounded heaps on raw cosine with slack, then a driver merge that
    // applies the probes' exact ordering (round half-up to 6, ties to the
    // lower id) — slack absorbs raw-vs-rounded boundary reshuffles
    val slack = k + 16
    val candidates: Array[(Int, String, Double)] = truthSide.rdd.mapPartitions { it =>
      val heaps = Array.fill(q)(
        scala.collection.mutable.PriorityQueue.empty[(Double, String)](
          Ordering.by[(Double, String), Double](_._1).reverse)) // min-heap on cos
      it.foreach { r =>
        val id = r.getString(0)
        val v = r.getSeq[Double](1)
        var qi = 0
        while (qi < q) {
          val qv = qVecs(qi)
          var dot = 0.0; var vn = 0.0; var j = 0
          val dim = math.min(qv.length, v.length)
          while (j < dim) { dot += qv(j) * v(j); vn += v(j) * v(j); j += 1 }
          val cos = if (vn == 0.0 || qNorms(qi) == 0.0) 0.0
            else dot / (math.sqrt(vn) * qNorms(qi))
          val h = heaps(qi)
          if (h.size < slack) h.enqueue((cos, id))
          else if (cos > h.head._1) { h.dequeue(); h.enqueue((cos, id)) }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (cos, id) => (qi, id, cos) } }
    }.collect()
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ground truth as a TIE CLOSURE: every id at or above the k-th rounded
    // cosine. Tied candidates are interchangeable at equal similarity, so
    // a probe returning either tie member is correct — and the id-ORDER
    // convention at the boundary (the probe orders by the id's native
    // type, this driver merge holds strings) stops mattering. Denominator
    // stays min(k, available rows): the closure only widens membership.
    if (sampled && candidates.isEmpty) throw new GraftPlanError(
      f"index.recall: corpus_sample = $frac%.4f drew an empty truth sample at $path — " +
      "raise the fraction (the draw is content-hash deterministic, not row-count exact)")
    val exact: Map[Int, (Set[String], Int)] = candidates.groupBy(_._1).map { case (qi, cs) =>
      val ranked = cs.map { case (_, id, cos) => (round6(cos), id) }
        .sortBy { case (cos, _) => -cos }
      val denom = math.min(k, ranked.length)
      val kth = ranked(denom - 1)._1
      (qi, (ranked.takeWhile(_._1 >= kth).map(_._2).toSet, denom))
    }

    // the probe under test — ALL queries in ONE batch job through the
    // knn.join index mode (the machinery the knn_join_{ivf,ivfpq}
    // _exhaustive gates pin against batch brute force): q partition-pruned
    // probes fused into a single plan instead of q sequential driver jobs
    val qDf = qRows.toSeq.map { case (qid, v) => (qid, v.toSeq) }
      .toDF("_rq_id", "_rq_vec")
    // sampled truth needs the probe's ranking restricted to the SAME
    // sample: retrieve wide enough that ~k sample members survive the
    // filter (k/frac expected members in the top-k/frac, doubled + slack
    // for draw variance), filter membership in-plan on corpus_id, then
    // keep each query's first k surviving ranks — the probe's own order.
    val kProbe = if (sampled) (math.ceil(k / frac) * 2).toInt + 16 else k
    val probeCfg = Seq[(String, Any)](
      "left_id" -> "_rq_id", "left_vector" -> "_rq_vec",
      "right_id" -> idCol, "right_vector" -> vecCol,
      "k" -> kProbe, "nprobe" -> nprobe, "index_path" -> path) ++
      cfg.longOpt("rerank").map(r => "rerank" -> (r: Any)).toSeq
    val probedRaw = KnnJoinOp(
      StageContext(spark, Seq("queries" -> qDf), Cfg.of(probeCfg: _*)))
    val probedInSample =
      if (sampled) probedRaw.filter(member(F.col("corpus_id").cast("string")))
      else probedRaw
    val probed: Map[String, Set[String]] = probedInSample
      .select(F.col("query_id").cast("string"), F.col("corpus_id").cast("string"),
        F.col("rank").cast("long"))
      .collect().groupBy(_.getString(0))
      .map { case (qid, rs) =>
        qid -> rs.sortBy(_.getLong(2)).take(k).map(_.getString(1)).toSet }
    val recalls: Seq[(String, Double)] = qRows.toSeq.zipWithIndex.map { case ((qid, _), qi) =>
      val (closure, denom) = exact.getOrElse(qi, (Set.empty[String], 1))
      val r = probed.getOrElse(qid, Set.empty).intersect(closure).size.toDouble / denom
      (qid, math.round(r * 10000) / 10000.0)
    }

    if (perQuery) recalls.toDF("query_id", "recall")
    else Seq((path, q.toLong, k.toLong, nprobe.toLong,
        math.round(recalls.map(_._2).sum / q * 10000) / 10000.0,
        recalls.map(_._2).min))
      .toDF("path", "queries", "k", "nprobe", "mean_recall", "min_recall")
  }
}
