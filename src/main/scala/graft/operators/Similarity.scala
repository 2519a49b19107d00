package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import graft.config._
import graft.core._

/** knn.bruteforce — exact cosine top-k over an embedding column
  * (training-data extension). Baseline/ground-truth path: one scan with
  * the native codegen'd `cosine_sim` Catalyst expression
  * (graft.functions.CosineSimilarity — fused into WholeStageCodegen),
  * then TakeOrderedAndProject for the top-k (per-partition heaps + merge
  * of k·P rows — no global sort even at 100 TB).
  *
  * Query vector: `query_id` (row from the same table) or literal
  * `query_vector` array.
  */
object KnnBruteForceOp extends Stage {
  val name = "knn.bruteforce"
  val kind = StageKind.Transform

  def queryVector(ctx: StageContext): Seq[Double] = {
    val cfg = ctx.cfg
    cfg.arrOpt("query_vector") match {
      case Some(vs) => vs.map {
        case CDouble(d) => d
        case CLong(l) => l.toDouble
        case o => throw new GraftConfigError(s"query_vector element: ${o.render}")
      }
      case None =>
        val id = cfg.long("query_id")
        val idCol = cfg.strOr("id_column", "vec_id")
        val vecCol = cfg.strOr("vector_column", "embedding")
        val row = ctx.primary.filter(F.col(idCol) === id).select(F.col(vecCol)).head()
        row.getSeq[Float](0).map(_.toDouble)
    }
  }

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val idCol = cfg.strOr("id_column", "vec_id")
    val vecCol = cfg.strOr("vector_column", "embedding")
    val k = cfg.longOr("k", 10L).toInt
    val q = queryVector(ctx)
    val qLit = F.array(q.map(F.lit): _*)

    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    val cos = F.call_function("cosine_sim",
      F.col(vecCol).cast("array<double>"), qLit)

    ctx.primary
      .withColumn("cosine", F.round(cos, 6))
      .select(F.col(idCol), F.col("cosine"))
      .orderBy(F.col("cosine").desc, F.col(idCol).asc)
      .limit(k)
  }
}

/** knn.join — BATCH ANN: for EVERY row of the query table, the top-k
  * nearest corpus vectors by cosine (retrieval evaluation, kNN candidate
  * mining, cluster assignment — the batch workload the single-query
  * knn.* probes don't cover). Two-input stage: queries = input 0,
  * corpus = input 1. Output: (query_id, corpus_id, cosine, rank).
  *
  * Scale shape: the QUERY side broadcasts (the small side by assumption
  * — thousands of probes vs a corpus of billions); the corpus streams
  * through one BroadcastNestedLoopJoin into the codegen'd `cosine_sim`,
  * and a per-partition bounded k-HEAP per query keeps only the local
  * top-k BEFORE the only exchange — shuffle bytes are |Q|·partitions·k
  * narrow rows, never the |Q|×|C| pair stream (the map-side-combine
  * shape collect_list cannot give). A final per-query row_number over
  * the merged heap rows yields the exact batch-brute-force answer: the
  * heap orders by the SAME (rounded cosine desc, corpus_id asc) key as
  * the final window, so rounding ties resolve identically in both
  * passes. `broadcast = "none"` opts out for a large query side (plain
  * cross join — let AQE plan it).
  *
  * `index_path` mode (the 100 TB path): instead of a corpus input, probe
  * a prebuilt `index.build` index — lsh pigeonhole (block, pbucket) with
  * `probe_hamming` multi-probe widening, lsh bands (band, pband) on
  * exact band agreement, or ivf (per-query nprobe nearest cells → a
  * static cell partition filter), detected from the index's own
  * metadata; the corpus is never fully scanned. Multi-block/multi-band
  * collisions are scored per collision and collapse inside the bounded
  * heaps (duplicate (cosine, corpus_id) entries are rejected on insert)
  * plus one dedup of the |Q|·partitions·k merged heap output — the raw
  * candidate stream is never pair-dedup-shuffled. The exhaustive
  * settings (probe_hamming = width / = band_planes, nprobe = nlist)
  * provably cover the whole corpus and EQUAL batch brute force (the
  * knn_join_{lsh,bands,ivf}_exhaustive gates pin all three).
  *
  * Config: left_id/right_id (default id_column, default vec_id),
  * left_vector/right_vector (default vector_column, default embedding),
  * k, broadcast = queries|none (brute force), index_path + probe_hamming
  * (pruned). Rows with null id or vector are skipped, and zero-norm
  * vectors (cosine = 0/0 = NaN — no defined direction) are excluded from
  * both sides.
  */
object KnnJoinOp extends Stage {
  val name = "knn.join"
  val kind = StageKind.Transform

  import org.apache.spark.sql.types._

  // the heap must total-order corpus ids exactly like the final window's
  // natural ascending order — atomic Comparable types only (the
  // window.apply orderability contract)
  private def requireOrderable(cId: String, dt: DataType): Unit = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | DateType | TimestampType |
         TimestampNTZType | _: DecimalType => ()
    case other => throw new GraftConfigError(
      s"knn.join: right id column '$cId' has non-orderable type ${other.simpleString}")
  }

  // NaN (zero-norm vector → 0/0) is excluded outright: "nearest" is
  // undefined for a direction-less vector, and the heap's primitive
  // eviction compare and the window's NaN-largest ordering would
  // otherwise disagree on it
  private def scored(joined: DataFrame): DataFrame = joined
    .select(F.col("query_id"), F.col("corpus_id"),
      F.round(F.call_function("cosine_sim", F.col("_qv"), F.col("_cv")), 6)
        .alias("cosine"))
    .filter(F.col("cosine").isNotNull && !F.isnan(F.col("cosine")))

  /** query vectors must match the ivf index dim; skipped under explain
    * (no upstream jobs) — lsh indexes check it in LshIndex.open */
  private def checkQueryDim(qSide: DataFrame, path: String, dim: Int): Unit =
    LshIndex.firstDim(qSide, F.col("_qv")).filter(_ != dim).foreach(bd =>
      throw new GraftConfigError(
        s"knn.join: query vectors have length $bd but the index at $path was " +
        s"built with dim = $dim"))

  /** the index corpus must hold `cols`, and an orderable `cId` */
  private def requireIndexed(corpus: DataFrame, path: String, cId: String,
      cols: Seq[String]): Unit = {
    (cId +: cols).foreach(c => if (!corpus.columns.contains(c)) throw new GraftPlanError(
      s"knn.join: index at $path has no '$c' column (has: ${corpus.columns.mkString(", ")}) " +
      "— right_id/right_vector must name the indexed columns"))
    requireOrderable(cId, corpus.schema(cId).dataType)
  }

  def apply(ctx: StageContext): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    val cfg = ctx.cfg
    val queries = ctx.input(0)
    val qId = cfg.strOr("left_id", cfg.strOr("id_column", "vec_id"))
    val cId = cfg.strOr("right_id", cfg.strOr("id_column", "vec_id"))
    val qVec = cfg.strOr("left_vector", cfg.strOr("vector_column", "embedding"))
    val cVec = cfg.strOr("right_vector", cfg.strOr("vector_column", "embedding"))
    val k = cfg.longOr("k", 10L).toInt
    if (k < 1) throw new GraftConfigError(s"knn.join: k must be >= 1, got $k")
    // corpus: a second input (brute force), or an index_path (pruned probe)
    val indexPath = cfg.strOpt("index_path")
    val corpusOpt =
      if (indexPath.isDefined) {
        if (ctx.inputs.size > 1) throw new GraftConfigError(
          "knn.join: give EITHER a second (corpus) input or index_path, not both")
        None
      } else Some(ctx.input(1))
    Seq((Some(queries), qId, "left"), (Some(queries), qVec, "left"),
        (corpusOpt, cId, "right"), (corpusOpt, cVec, "right")).foreach {
      case (Some(df), c, side) =>
        if (!df.columns.contains(c))
          throw new GraftPlanError(s"knn.join: $side column '$c' not found")
      case _ => ()
    }
    corpusOpt.foreach(c => requireOrderable(cId, c.schema(cId).dataType))

    val qSide = queries
      .filter(F.col(qId).isNotNull && F.col(qVec).isNotNull)
      .select(F.col(qId).alias("query_id"), F.col(qVec).cast("array<double>").alias("_qv"))

    val (pairs, corpusIdType) = indexPath match {
      case Some(path) =>
        // index-pruned batch probe — the 100 TB path, the family detected
        // from the index's own metadata: lsh (either layout), ivf (cell)
        // or ivfpq. CLI `explain` with no index yet (the earlier skipped
        // index.build barrier would have created it) → empty placeholder
        // typed by `index_type` (and, for lsh, `blocking`), same contract as
        // the dedup.embedding index probe; with an existing index, explain
        // still reads the tiny meta but never runs query-side jobs.
        val explainOnly = cfg.boolOr("_explain_only", false)
        val hasMeta = GraftFs.exists(s"$path/meta")
        val hasCentroids = GraftFs.exists(s"$path/centroids")
        val placeholder = explainOnly && !hasMeta && !hasCentroids
        if (!placeholder && !hasMeta && !hasCentroids)
          throw new GraftPlanError(
            s"knn.join: no index at '$path' — run an index.build stage first")
        val family =
          if (placeholder) cfg.strOr("index_type", "lsh") match {
            case ok @ ("lsh" | "ivf" | "ivfpq") => ok
            case other => throw new GraftConfigError(
              s"knn.join: index_type must be lsh|ivf|ivfpq, got '$other'")
          }
          else IndexMaintenance.layout(ctx.spark, path, "knn.join")._1 match {
            case ok @ ("lsh" | "ivf" | "ivfpq") => ok
            case fam => throw new GraftConfigError(s"knn.join: the index at $path is a " +
              s"$fam index, not a vector index (lsh, ivf or ivfpq)")
          }
        family match {
          case "lsh" => lshPairs(ctx, path, qSide, queries, qId, qVec, cId, cVec)
          case "ivf" =>
            ivfPairs(ctx, path, placeholder, explainOnly, qSide, queries,
              qId, qVec, cId, cVec)
          case "ivfpq" =>
            ivfpqPairs(ctx, path, placeholder, explainOnly, qSide, queries,
              qId, qVec, cId, cVec, k)
        }

      case None =>
        val corpus = corpusOpt.get
        val cSide = corpus
          .filter(F.col(cId).isNotNull && F.col(cVec).isNotNull)
          .select(F.col(cId).alias("corpus_id"), F.col(cVec).cast("array<double>").alias("_cv"))
        val qHinted = cfg.strOr("broadcast", "queries") match {
          case "queries" => F.broadcast(qSide)
          case "none"    => qSide
          case other => throw new GraftConfigError(
            s"knn.join: broadcast must be queries|none, got '$other'")
        }
        (cSide.crossJoin(qHinted)
          .select(F.col("query_id"), F.col("corpus_id"),
            F.round(F.call_function("cosine_sim", F.col("_qv"), F.col("_cv")), 6)
              .alias("cosine"))
          // NaN excluded (see the index branch): a zero-norm vector's
          // cosine is 0/0 and the heap/window orderings disagree on NaN
          .filter(F.col("cosine").isNotNull && !F.isnan(F.col("cosine"))),
         corpus.schema(cId).dataType)
    }

    val outSchema = StructType(Seq(
      StructField("query_id", queries.schema(qId).dataType),
      StructField("corpus_id", corpusIdType),
      StructField("cosine", DoubleType)))
    val partial = heapTopK(pairs, k, outSchema)

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(F.col("cosine").desc, F.col("corpus_id").asc)
    // index modes: a pair can reach two partitions' heaps (multi-block
    // collisions land in different shuffle partitions); its copies carry
    // the same (cosine, corpus_id), so deduping the bounded heap output —
    // not the raw candidate stream — is exact and cheap. The brute-force
    // cross join produces each pair once; no dedup, no extra exchange.
    val merged = if (indexPath.isDefined) partial.dropDuplicates("query_id", "corpus_id")
                 else partial
    merged.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
  }

  /** Bounded per-partition top-k heaps over a (query_id, corpus_id, cosine)
    * pair stream — the shared reducer of every knn.join mode. One bounded
    * ordered set per query: first() is the worst kept entry (lowest cosine;
    * among equal cosines the LARGEST corpus id, so eviction prefers the ids
    * the final ascending tie-break keeps). A TreeSet instead of a
    * PriorityQueue so a pair scored twice in one partition (multi-band/
    * multi-block collisions in the index modes) collapses on insert —
    * compare == 0 is rejected — and never displaces a distinct candidate;
    * cross-partition duplicates are removed on the merged (narrow,
    * |Q|·partitions·k-bounded) heap output at the call site, NOT with a
    * global pair-dedup exchange of the whole candidate stream before the
    * heaps (the r6 finding-3 shape). */
  private def heapTopK(pairs: DataFrame, k: Int, outSchema: StructType): DataFrame = {
    @inline def idLt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    pairs.mapPartitions { it =>
      val heaps = new java.util.HashMap[Any, java.util.TreeSet[(Double, Any)]]()
      val cmp = new java.util.Comparator[(Double, Any)] {
        def compare(a: (Double, Any), b: (Double, Any)): Int = {
          val c = java.lang.Double.compare(a._1, b._1)
          if (c != 0) c else (if (idLt(a._2, b._2)) 1 else if (idLt(b._2, a._2)) -1 else 0)
        }
      }
      it.foreach { r =>
        val q = r.get(0); val cid = r.get(1); val cos = r.getDouble(2)
        var ts = heaps.get(q)
        if (ts == null) { ts = new java.util.TreeSet(cmp); heaps.put(q, ts) }
        if (ts.size < k) ts.add((cos, cid))
        else {
          val worst = ts.first()
          if (cmp.compare((cos, cid), worst) > 0 && ts.add((cos, cid))) ts.pollFirst()
        }
      }
      val out = scala.collection.mutable.ArrayBuffer[Row]()
      heaps.forEach((q, ts) => ts.forEach { case (cos, cid) => out += Row(q, cid, cos) })
      out.iterator
    }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
  }

  /** LSH probe, either layout: each query's keys join ONLY the colliding
    * index partitions (LshIndex.probeKeys — the dedup.embedding probe
    * join's batch side); the corpus is never fully scanned.
    * `probe_hamming` widens every key to its Hamming-d neighbourhood
    * (enumerable key widths only); d = the key width covers every key of
    * every position, and since the layout stores each row once PER
    * position, one fully-probed position already spans the corpus — the
    * knn_join_{lsh,bands}_exhaustive gates pin both layouts. `probe_bands`
    * = j bounds the bands layout's ×bands scan amplification: a STATIC
    * `band < j` partition filter on the corpus side scans j/bands of the
    * dirs while a near-exact match (band collision probability ≈ 1 per
    * band) still collides in every probed band (BENCH_NOTES r8). A pair
    * colliding at several positions is scored per collision; the
    * duplicates carry identical (cosine, corpus_id) and collapse inside
    * the bounded heaps + on their merged output. */
  private def lshPairs(ctx: StageContext, path: String, qSide: DataFrame,
      queries: DataFrame, qId: String, qVec: String, cId: String,
      cVec: String): (DataFrame, DataType) = {
    val index = LshIndex.open(ctx, name, path, LshDefaults(), "query vectors",
      LshIndex.firstDim(qSide, F.col("_qv")))
    val (l, p) = (index.layout, index.params)
    val reach = LshIndex.reach(name, ctx.cfg, l, p)
    if (reach.hamming > 0 && l.keyBits(p) > 12) throw new GraftConfigError(
      s"knn.join: probe_hamming > 0 needs an enumerable key space (${l.keyBitsName} " +
      s"<= 12, index has ${l.keyBits(p)}) — rebuild the index with ${l.narrowerHint}")
    val qKeys = LshIndex.probeKeys(l, p,
      qSide.withColumn("_sig", index.signature(F.col("_qv"), ndExplode = true)),
      F.col("_sig"), Seq(F.col("query_id"), F.col("_qv")), Some(reach))
    // the empty-index fallback types corpus_id like the query id (the
    // result is empty either way)
    val corpus = index.corpus(StructField(cId, queries.schema(qId).dataType),
      StructField(cVec, queries.schema(qVec).dataType))
    requireIndexed(corpus, path, cId, Seq(cVec))
    val bounded =
      if (reach.keys < l.keyCount(p)) corpus.filter(F.col(l.posCol) < reach.keys) else corpus
    val idx = bounded.select(l.joinCols.map(F.col) ++ Seq(F.col(cId).alias("corpus_id"),
      F.col(cVec).cast("array<double>").alias("_cv")): _*)
    (scored(qKeys.join(idx, l.joinCols)), corpus.schema(cId).dataType)
  }

  /** IVF probe (index.build type=ivf): each query ranks the nlist
    * centroids (broadcast into one UDF — nlist rows, tiny) and explodes
    * to its `nprobe` nearest cells; the distinct probed cells become a
    * STATIC `cell IN (...)` partition filter on the cell-partitioned
    * corpus (visible as PartitionFilters in the scan — nprobe/nlist of
    * the bytes are read), then the cell equi-join scores only the pruned
    * slice. nprobe = nlist probes every cell ≡ batch brute force (the
    * knn_join_ivf_exhaustive gate). Each corpus row lives in exactly one
    * cell and a query probes distinct cells, so no pair dedup is needed. */
  private def ivfPairs(ctx: StageContext, path: String, placeholder: Boolean,
      explainOnly: Boolean, qSide: DataFrame, queries: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String): (DataFrame, DataType) = {
    import org.apache.spark.ml.linalg.Vectors
    val cfg = ctx.cfg
    val spark = ctx.spark
    val nprobe0 = cfg.longOr("nprobe", 4L).toInt
    if (nprobe0 < 1) throw new GraftConfigError(
      s"knn.join: nprobe must be >= 1, got $nprobe0")
    if (cfg.has("rerank")) throw new GraftConfigError(
      "knn.join: rerank applies only to an ivfpq index (this index is " +
      "IVF-flat — its probe already scores exactly); rebuild with " +
      "index.build type=ivfpq to get the ADC + rerank path")
    if (placeholder) {
      // empty probe typed like the query side — the plan shape without
      // touching (or requiring) the index
      val emptySchema = StructType(Seq(
        StructField("query_id", queries.schema(qId).dataType),
        StructField("corpus_id", queries.schema(qId).dataType),
        StructField("cosine", DoubleType)))
      return (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema),
        queries.schema(qId).dataType)
    }
    IndexMaintenance.recoverSwap(path) // repair a mid-swap compact crash
    val cents = IvfCentroids.load(spark, path, "knn.join mode=ivf")
    val dim = cents.head._2.size
    if (!explainOnly) checkQueryDim(qSide, path, dim)
    val nprobe = math.min(nprobe0, cents.length)
    // same cell-ranking metric as the index's KMeans assignment
    // (euclidean); bounded top-nprobe selection, no per-row nlist sort
    val nearestCells = F.udf { v: Seq[Double] =>
      IvfCentroids.nearest(cents, Vectors.dense(v.toArray), nprobe).toSeq
    }
    val qCells = qSide.withColumn("cell", F.explode(nearestCells(F.col("_qv"))))
    val corpus0 = spark.read.parquet(IndexSnapshot.corpusDir(path))
    requireIndexed(corpus0, path, cId, Seq(cVec))
    // distinct probed cells (≤ nlist values, one small query-side job —
    // skipped under explain) → static partition pruning on the scan
    val probed: Seq[Int] =
      if (explainOnly) Seq.empty
      else qCells.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val corpusF =
      if (probed.isEmpty && !explainOnly) corpus0.filter(F.lit(false)) // no queries
      else if (explainOnly) corpus0
      else corpus0.filter(F.col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))
    val idx = corpusF.select(F.col("cell"),
      F.col(cId).alias("corpus_id"), F.col(cVec).cast("array<double>").alias("_cv"))
    (scored(qCells.join(idx, Seq("cell"))), corpus0.schema(cId).dataType)
  }

  /** IVFPQ batch probe (index.build type=ivfpq): same cell pruning as the
    * ivf probe, but the candidate join reads ONLY the m-byte code columns
    * (parquet column pruning — the scan-I/O win at corpus scale) and
    * scores pairs approximately from the broadcast codebooks; per-query
    * bounded heaps keep the top rerank·k candidates, which then re-score
    * EXACTLY against the vector column of the same pruned cells. rerank·k
    * ≥ the probed-cell row count makes the result identical to the ivf
    * probe (the knn_join_ivfpq_exhaustive gate); `rerank = 0` returns the
    * approximate scores unreranked. Note the batch shape differs from the
    * single-query ADC: the m×ksub lookup table is per QUERY, so batch
    * scoring computes the subspace dots inline (2·dim mults/pair instead
    * of m lookups) — the scan-bytes reduction is the scale win, not the
    * per-pair arithmetic (measured in ScaleProbe's ivfpq mode). */
  private def ivfpqPairs(ctx: StageContext, path: String, placeholder: Boolean,
      explainOnly: Boolean, qSide: DataFrame, queries: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String, k: Int): (DataFrame, DataType) = {
    import org.apache.spark.ml.linalg.Vectors
    val cfg = ctx.cfg
    val spark = ctx.spark
    val nprobe0 = cfg.longOr("nprobe", 4L).toInt
    if (nprobe0 < 1) throw new GraftConfigError(
      s"knn.join: nprobe must be >= 1, got $nprobe0")
    val rerank = cfg.longOr("rerank", 4L).toInt
    if (rerank < 0) throw new GraftConfigError(
      s"knn.join: rerank must be >= 0 (0 = return ADC scores unreranked), got $rerank")
    if (placeholder) {
      val emptySchema = StructType(Seq(
        StructField("query_id", queries.schema(qId).dataType),
        StructField("corpus_id", queries.schema(qId).dataType),
        StructField("cosine", DoubleType)))
      return (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema),
        queries.schema(qId).dataType)
    }
    IndexMaintenance.recoverSwap(path)
    val meta = IndexMeta.head(spark, s"$path/meta")
    val m = meta.getAs[Int]("m")
    val dim = meta.getAs[Int]("dim")
    val dsub = dim / m
    // corpus-side vector column is a fact of the index (meta), unless the
    // caller explicitly overrides with right_vector
    val corpusVec =
      if (cfg.has("right_vector")) cVec else PqIndex.metaVectorColumn(meta)
    val centsT = IvfCentroids.load(spark, path, "knn.join mode=ivfpq")
    val cents = centsT.map(_._2.toArray)
    val books = PqIndex.loadCodebooks(spark, path, "knn.join mode=ivfpq")
    if (!explainOnly) checkQueryDim(qSide, path, dim)
    val nprobe = math.min(nprobe0, cents.length)
    val nearestCells = F.udf { v: Seq[Double] =>
      IvfCentroids.nearest(centsT, Vectors.dense(v.toArray), nprobe).toSeq
    }
    val qCells = qSide.withColumn("cell", F.explode(nearestCells(F.col("_qv"))))
    val corpus0 = spark.read.parquet(IndexSnapshot.corpusDir(path))
    requireIndexed(corpus0, path, cId,
      Seq("pq_codes", "pq_vnorm") ++ (if (rerank > 0) Seq(corpusVec) else Nil))
    val probed: Seq[Int] =
      if (explainOnly) Seq.empty
      else qCells.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val corpusF =
      if (probed.isEmpty && !explainOnly) corpus0.filter(F.lit(false))
      else if (explainOnly) corpus0
      else corpus0.filter(F.col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))

    // approximate pair score from the broadcast quantizers — reads only
    // the narrow code columns of the pruned cells
    val approx = F.udf { (qv: Seq[Double], cell: Int, codes: Array[Byte], vnorm: Double) =>
      val qa = qv.toArray
      var qn = 0.0
      var j = 0
      while (j < qa.length) { qn += qa(j) * qa(j); j += 1 }
      if (vnorm == 0.0 || qn == 0.0) 0.0
      else {
        val ctr = cents(cell)
        var dot = 0.0
        j = 0
        while (j < qa.length) { dot += qa(j) * ctr(j); j += 1 }
        var s = 0
        while (s < m) {
          val sub = books(s)(codes(s) & 0xFF)
          var d = 0
          while (d < dsub) { dot += qa(s * dsub + d) * sub(d); d += 1 }
          s += 1
        }
        dot / (math.sqrt(qn) * vnorm)
      }
    }
    val codesIdx = corpusF.select(F.col("cell"), F.col(cId).alias("corpus_id"),
      F.col("pq_codes"), F.col("pq_vnorm"))
    val approxPairs = qCells.join(codesIdx, Seq("cell"))
      .select(F.col("query_id"), F.col("corpus_id"),
        approx(F.col("_qv"), F.col("cell"), F.col("pq_codes"), F.col("pq_vnorm"))
          .alias("cosine"))
      .filter(F.col("cosine").isNotNull && !F.isnan(F.col("cosine")))
    val cIdType = corpus0.schema(cId).dataType

    if (rerank == 0)
      // approximate mode: the shared final heap/window ranks the rounded
      // ADC scores directly
      (approxPairs.withColumn("cosine", F.round(F.col("cosine"), 6)), cIdType)
    else {
      // candidate bound at rerank·k per query, then exact re-score: the
      // vector column is read only here, for the candidates' pruned cells
      val kPrime = math.min(Int.MaxValue.toLong, rerank.toLong * k).toInt
      val candSchema = StructType(Seq(
        StructField("query_id", queries.schema(qId).dataType),
        StructField("corpus_id", cIdType),
        StructField("cosine", DoubleType)))
      val cand = heapTopK(approxPairs, kPrime, candSchema)
        .dropDuplicates("query_id", "corpus_id")
        .select("query_id", "corpus_id")
      val cVecs = corpusF.select(F.col(cId).alias("corpus_id"),
        F.col(corpusVec).cast("array<double>").alias("_cv"))
      (scored(cand.join(cVecs, Seq("corpus_id")).join(qSide, Seq("query_id"))), cIdType)
    }
  }
}

/** knn.lsh — approximate cosine top-k via random-hyperplane LSH bucketing:
  * candidates share at least one signature block with the query. Same
  * hyperplane machinery as dedup.embedding. Recall knobs: more blocks
  * (pigeonhole) / fewer planes per block, and `probe_hamming` = d —
  * multi-probe LSH (Lv et al., VLDB'07): each block also probes buckets
  * within Hamming distance d of the query's bucket, trading a wider scan
  * for recall WITHOUT growing the index. d = width (= num_planes/blocks)
  * provably covers every bucket — the exhaustive/debug setting the
  * knn_lsh_exhaustive gate pins bit-for-bit against brute force.
  *
  * Two modes:
  *  - `index_path` (the 100 TB path): probe an [[IndexBuildOp]] type=lsh
  *    table of either layout. The corpus is stored once per key position
  *    partitioned by (position, key % partition_dirs) with the exact key
  *    as a data column; the query's keys (LshLayout.queryKeys — the
  *    corpus-side signature expression evaluated on the query) become
  *    literal predicates that prune to the probed keys' partition dirs and
  *    apply the exact key inside the pruned scan; candidates dedupe on the
  *    id and are scored. `probe_bands` bounds a bands index's positions.
  *  - inline: compute every row's signature in the scan and filter — one
  *    full scan but zero index maintenance.
  */
object KnnLshOp extends Stage {
  val name = "knn.lsh"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val idCol = cfg.strOr("id_column", "vec_id")
    val vecCol = cfg.strOr("vector_column", "embedding")
    val k = cfg.longOr("k", 10L).toInt
    val q = KnnBruteForceOp.queryVector(ctx)

    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    val qLit = F.array(q.map(F.lit): _*)
    val cos = F.call_function("cosine_sim",
      F.col(vecCol).cast("array<double>"), qLit)
    def topk(candidates: DataFrame): DataFrame = candidates
      .withColumn("cosine", F.round(cos, 6))
      .select(F.col(idCol), F.col("cosine"))
      .orderBy(F.col("cosine").desc, F.col(idCol).asc)
      .limit(k)

    cfg.strOpt("index_path") match {
      case Some(path) =>
        val index = LshIndex.open(ctx, name, path, LshDefaults(), "the query vector",
          Some(q.length))
        val (l, p) = (index.layout, index.params)
        val reach = LshIndex.reach(name, cfg, l, p)
        val (bits, dirs) = (l.keyBits(p), l.dirs(p))
        // OR over the query's keys: (position, dir key) is the partition
        // key — pruned at planning; the exact key predicate is a residual
        // data filter inside the pruned scan. Multi-probe widens each key
        // to Hamming ≤ d: enumerable sets become isin (still pruned);
        // un-enumerable widths fall back to a bit_count residual over the
        // position's dirs.
        val probe = l.queryKeys(q, p).take(reach.keys).zipWithIndex.map { case (qk, j) =>
          val keyPred =
            if (reach.hamming == 0)
              F.col(l.dirCol) === (qk % dirs).toInt && F.col(l.keyCol) === qk
            else if (bits <= 12) {
              val ks = LshLayout.within(qk, bits, reach.hamming).toSeq
              F.col(l.dirCol).isin(ks.map(x => (x % dirs).toInt).distinct: _*) &&
                F.col(l.keyCol).isin(ks: _*)
            } else F.bit_count(F.col(l.keyCol).bitwiseXOR(F.lit(qk))) <= reach.hamming
          F.col(l.posCol) === j && keyPred
        }.reduce(_ || _)
        topk(index.scan(ctx.primary.schema(idCol), ctx.primary.schema(vecCol))
          .filter(probe)
          .dropDuplicates(idCol) // a candidate can match at several positions
          .drop(l.corpusCols: _*))
      case None =>
        if (cfg.has("probe_bands")) throw new GraftConfigError(
          "knn.lsh: probe_bands needs an index_path to a bands-layout index " +
          "(the inline signature scan has no per-band storage to bound)")
        val l = LshLayout.Pigeonhole
        val p = LshIndex.configured(name, cfg, LshDefaults(), l, q.length)
        val width = l.keyBits(p)
        val probeD = LshIndex.reach(name, cfg, l, p).hamming
        // signature of every row (one fused expression, materialized in a
        // projection BEFORE the filter — referencing it in `blocks` OR'd
        // predicates would re-evaluate the h×dim dot loop per predicate
        // inside FilterExec)
        val withSig = ctx.primary.withColumn("__sig",
          l.signature(F.col(vecCol), p, ndExplode = true))
        val blockMatch = l.queryKeys(q, p).zipWithIndex.map { case (qk, j) =>
          val rowBlock = l.blockKey(F.col("__sig"), j, width)
          if (probeD == 0) rowBlock === F.lit(qk)
          else F.bit_count(rowBlock.bitwiseXOR(F.lit(qk))) <= probeD
        }.reduce(_ || _)
        topk(withSig.filter(blockMatch).drop("__sig"))
    }
  }
}

/** knn.ivf — IVF-flat approximate nearest neighbor (the brief's IVF scale
  * path, complementing knn.lsh). A coarse quantizer partitions the corpus
  * into `nlist` cells; a query probes only the `nprobe` cells whose
  * centroids are nearest, then exact cosine runs on that slice.
  *
  * Two modes:
  *  - `index_path` (the 100 TB path): probe a PREBUILT index from
  *    [[IndexBuildOp]]. Centroids (nlist rows) rank driver-side; the
  *    corpus scan filters `cell IN (probed)` against the cell-partitioned
  *    layout, so parquet partition pruning reads only nprobe/nlist of the
  *    bytes (asserted in VectorIndexSpec). No training in the query.
  *  - inline (exploratory): train the quantizer on a bounded sample inside
  *    the query — fine at notebook scale, wasteful for repeated queries.
  */
object KnnIvfOp extends Stage {
  val name = "knn.ivf"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    import org.apache.spark.ml.linalg.Vectors
    val cfg = ctx.cfg
    val idCol = cfg.strOr("id_column", "vec_id")
    val vecCol = cfg.strOr("vector_column", "embedding")
    val k = cfg.longOr("k", 10L).toInt
    val nprobe0 = cfg.longOr("nprobe", 4L).toInt
    val q = KnnBruteForceOp.queryVector(ctx)
    val qv = Vectors.dense(q.toArray)

    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    val qLit = F.array(q.map(F.lit): _*)
    val cos = F.call_function("cosine_sim", F.col(vecCol).cast("array<double>"), qLit)

    def topk(cells: DataFrame): DataFrame = cells
      .withColumn("cosine", F.round(cos, 6))
      .select(F.col(idCol), F.col("cosine"))
      .orderBy(F.col("cosine").desc, F.col(idCol).asc)
      .limit(k)

    cfg.strOpt("index_path") match {
      case Some(path) =>
        val spark = ctx.spark
        if (!GraftFs.exists(s"$path/centroids"))
          throw new GraftPlanError(
            s"knn.ivf: no index at '$path' — run an index.build stage first " +
            "(note: the CLI `explain` command never builds indexes)")
        IndexMaintenance.recoverSwap(path) // repair a mid-swap compact crash
        if (GraftFs.isDir(s"$path/pq"))
          // ivfpq layout: ADC over m-byte codes + exact rerank (PqIndex)
          PqIndex.probeSingle(ctx, path, idCol, k, nprobe0, q)
        else {
          if (cfg.has("rerank")) throw new GraftConfigError(
            "knn.ivf: rerank applies only to an ivfpq index (this index is " +
            "IVF-flat — its probe already scores exactly); rebuild with " +
            "index.build type=ivfpq to get the ADC + rerank path")
          val cents = IvfCentroids.load(spark, path, "knn.ivf")
          val nprobe = math.min(nprobe0, cents.length)
          val probed = IvfCentroids.nearest(cents, qv, nprobe)
          topk(spark.read.parquet(IndexSnapshot.corpusDir(path))
            .filter(F.col("cell").isin(probed.map(_.asInstanceOf[Any]): _*)))
        }
      case None =>
        if (cfg.has("rerank")) throw new GraftConfigError(
          "knn.ivf: rerank applies only to an index_path probe of an ivfpq " +
          "index; the inline mode trains IVF-flat and scores exactly")
        val nlist = cfg.longOr("nlist", 16L).toInt
        val seed = cfg.longOr("seed", 11L)
        val maxTrain = cfg.longOr("max_train", 10000L).toInt
        // coarse quantizer trained DRIVER-SIDE on the bounded uniform
        // draw — same shared Pq.trainSample / Pq.lloyd pair as
        // index.build type=ivf (r13: the sample is capped at max_train by
        // construction, so the fit is driver-scale work at any corpus
        // size; the old distributed MLlib KMeans paid ~18 scheduler jobs
        // per query against a cached sample). Centroids broadcast inside
        // one assignment UDF, assignment stays one map pass.
        val sample = graft.operators.Pq.trainSample(
          ctx.primary, F.col(vecCol), maxTrain, seed)
        if (sample.isEmpty) throw new GraftPlanError(
          "knn.ivf: empty input, nothing to train the quantizer on")
        val centsArr = graft.operators.Pq.lloyd(
          sample, nlist, graft.operators.Pq.TrainIters, seed)
        val cents = centsArr.zipWithIndex.map { case (c, i) => (i, Vectors.dense(c)) }
        val nprobe = math.min(nprobe0, cents.length)
        val probed = IvfCentroids.nearest(cents, qv, nprobe)
        val assign = IvfCentroids.assignUdf(ctx.spark, cents)
        topk(ctx.primary.select(F.col(idCol), F.col(vecCol))
          .withColumn("cell", assign(F.col(vecCol).cast("array<float>")))
          .filter(F.col("cell").isin(probed.map(_.asInstanceOf[Any]): _*)))
    }
  }
}
