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

  /** The exact top-k (id, cosine) of `rows` against query `q`: rounded
    * cosine desc, ties to the lower id — the ranking every single-query
    * knn op returns. `cosine_sim` must be registered on the session. */
  def topK(rows: DataFrame, q: Seq[Double], id: String, vec: String, k: Int): DataFrame =
    rows
      .withColumn("cosine", F.round(F.call_function("cosine_sim",
        F.col(vec).cast("array<double>"), F.array(q.map(F.lit): _*)), 6))
      .select(F.col(id), F.col("cosine"))
      .orderBy(F.col("cosine").desc, F.col(id).asc)
      .limit(k)

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val q = queryVector(ctx)
    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    topK(ctx.primary, q, cfg.strOr("id_column", "vec_id"), cfg.strOr("vector_column", "embedding"),
      cfg.longOr("k", 10L).toInt)
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
  private[operators] def scored(joined: DataFrame): DataFrame = joined
    .select(F.col("query_id"), F.col("corpus_id"),
      F.round(F.call_function("cosine_sim", F.col("_qv"), F.col("_cv")), 6)
        .alias("cosine"))
    .filter(F.col("cosine").isNotNull && !F.isnan(F.col("cosine")))

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
        // index-pruned batch probe — the 100 TB path, the kind detected by
        // the catalog from the index's own metadata: lsh (either layout),
        // ivf (cell) or ivfpq. CLI `explain` with no index yet (the earlier
        // skipped index.build barrier would have created it) → empty
        // placeholder typed by `index_type` (and, for lsh, `blocking`), same
        // contract as the dedup.embedding index probe; with an existing
        // index, explain still reads the tiny meta but never runs
        // query-side jobs.
        IndexCatalog.open(ctx, name, path, IndexCatalog.Vector).kind match {
          case _: IvfLayout => ivfPairs(ctx, path, qSide, queries, qId, qVec, cId, cVec, k)
          case _ => lshPairs(ctx, path, qSide, queries, qId, qVec, cId, cVec)
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
        (scored(cSide.crossJoin(qHinted)), corpus.schema(cId).dataType)
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
  private[operators] def heapTopK(pairs: DataFrame, k: Int, outSchema: StructType): DataFrame = {
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

  /** IVF probe, either layout: each query explodes to its `nprobe`
    * nearest cells; the distinct probed cells become ONE static `cell IN
    * (...)` partition filter on the cell-partitioned corpus (visible as
    * PartitionFilters in the scan — nprobe/nlist of the bytes are read),
    * and the layout scores the cell equi-join of the pruned slice: exactly
    * (flat), or by ADC over the code columns with an exact rerank (pq).
    * nprobe = nlist probes every cell ≡ batch brute force (the
    * knn_join_{ivf,ivfpq}_exhaustive gates). */
  private def ivfPairs(ctx: StageContext, path: String, qSide: DataFrame,
      queries: DataFrame, qId: String, qVec: String, cId: String, cVec: String,
      k: Int): (DataFrame, DataType) = {
    val idx = IvfIndex.open(ctx, name, path, "query vectors",
      _ => LshIndex.firstDim(qSide, F.col("_qv")), probes = true)
    // the corpus-side vector column is a fact of the index, unless the
    // caller explicitly names it with right_vector
    val corpusVec = if (ctx.cfg.has("right_vector")) cVec else idx.vectorColumn(cVec)
    val qCells = qSide.withColumn("cell",
      F.explode(idx.quantizer.probeColumn(F.col("_qv"), idx.nprobe)))
    // the empty-index fallback types corpus_id like the query id
    val corpus = idx.scan(StructField(cId, queries.schema(qId).dataType),
      StructField(corpusVec, queries.schema(qVec).dataType))
    requireIndexed(corpus, path, cId, idx.layout.probeCols(corpusVec, idx.rerank))
    // distinct probed cells (≤ nlist values, one small query-side job —
    // skipped under explain) → static partition pruning on the scan
    val pruned =
      if (ctx.cfg.boolOr("_explain_only", false)) corpus
      else IvfIndex.prune(corpus, qCells.select("cell").distinct().collect().map(_.getInt(0)))
    (idx.layout.pairs(idx, qSide, qCells, pruned, cId, corpusVec, k), corpus.schema(cId).dataType)
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
    def topk(candidates: DataFrame): DataFrame =
      KnnBruteForceOp.topK(candidates, q, idCol, vecCol, k)

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

/** knn.ivf — IVF approximate nearest neighbor (the brief's IVF scale
  * path, complementing knn.lsh). A coarse quantizer partitions the corpus
  * into `nlist` cells; a query probes only the `nprobe` cells whose
  * centroids are nearest, then scores that slice.
  *
  * Two modes:
  *  - `index_path` (the 100 TB path): probe a PREBUILT index from
  *    [[IndexBuildOp]] type=ivf|ivfpq. Centroids (nlist rows) rank
  *    driver-side; the corpus scan filters `cell IN (probed)` against the
  *    cell-partitioned layout, so parquet partition pruning reads only
  *    nprobe/nlist of the bytes (asserted in VectorIndexSpec), and the
  *    index's layout scores the slice: exact cosine (ivf) or ADC over the
  *    m-byte codes with an exact rerank of the top `rerank`·k (ivfpq). No
  *    training in the query.
  *  - inline (exploratory): train an IVF-flat quantizer on a bounded
  *    sample inside the query — fine at notebook scale, wasteful for
  *    repeated queries.
  */
object KnnIvfOp extends Stage {
  val name = "knn.ivf"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val idCol = cfg.strOr("id_column", "vec_id")
    val vecCol = cfg.strOr("vector_column", "embedding")
    val k = cfg.longOr("k", 10L).toInt
    val q = KnnBruteForceOp.queryVector(ctx)
    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)

    cfg.strOpt("index_path") match {
      case Some(path) =>
        val idx = IvfIndex.open(ctx, name, path, "the query vector", _ => Some(q.length),
          probes = true)
        idx.layout.knn(idx, IvfIndex.prune(idx.scan(ctx.primary.schema(idCol),
            ctx.primary.schema(vecCol)), idx.quantizer.probe(q.toArray, idx.nprobe)),
          q, idCol, idx.vectorColumn(vecCol), k)
      case None =>
        if (cfg.has("rerank")) throw new GraftConfigError(
          "knn.ivf: rerank applies only to an index_path probe of an ivfpq " +
          "index; the inline mode trains IVF-flat and scores exactly")
        val nprobe = IvfIndex.nprobe(name, cfg)
        val quantizer = IvfIndex.train(name, ctx.primary, F.col(vecCol), cfg, 10000L,
            IvfLayout.Seed.of(cfg)).map(_._2)
          .getOrElse(throw new GraftPlanError("knn.ivf: empty input, nothing to train the quantizer on"))
        quantizer.requireDim(name, "the query vector", q.length,
          s"the quantizer trained on '$vecCol'")
        KnnBruteForceOp.topK(IvfIndex.prune(ctx.primary.select(F.col(idCol), F.col(vecCol))
            .withColumn("cell", quantizer.assign(ctx.spark, F.col(vecCol))),
          quantizer.probe(q.toArray, nprobe)), q, idCol, vecCol, k)
    }
  }
}
