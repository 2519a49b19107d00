package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._

/** Shared IVF centroid machinery: one loader (with the loud empty-table
  * check) and one bounded nearest-cells selection, used by the quantizer
  * append path and every ivf probe (knn.ivf, knn.join mode=ivf). */
private[operators] object IvfCentroids {
  import org.apache.spark.ml.linalg.{Vector, Vectors}

  /** (cell, centroid) sorted by cell. An IVF index whose centroids table
    * is EMPTY is unusable (appends can't assign, probes would silently
    * degrade to dim = 0) — fail loud instead. Listing-keyed cached
    * (IndexMeta): probe loops re-read a table that only a rebuild — which
    * writes fresh part files — can change; callers treat the array as
    * read-only. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      op: String): Array[(Int, Vector)] =
    IndexMeta.cached(s"$path/centroids") {
      val cents = spark.read.parquet(s"$path/centroids")
        .select("cell", "centroid").collect()
        .map(r => (r.getInt(0), Vectors.dense(r.getSeq[Double](1).toArray)))
        .sortBy(_._1)
      if (cents.isEmpty) throw new GraftConfigError(
        s"$op: the index at $path has no centroids — rebuild with " +
        "index.build type=ivf mode=overwrite")
      cents
    }

  /** One-nearest-cell assignment UDF over a BROADCAST centroid table —
    * the corpus-wide map pass of every ivf build/append/inline-probe. The
    * centroid array used to ride the UDF closure, re-shipped with every
    * stage's task binary (nlist·dim doubles per launch); a broadcast ships
    * it once per executor (guide §3.1's small-side discipline applied to
    * the task payload — r14, VERDICT item 8). The arithmetic is UNCHANGED:
    * the same [[nearest]] over the same `Vectors.sqdist`, with the
    * float→double widening done by an exact while-loop instead of the
    * boxing `v.map(_.toDouble)` — assignments are bit-identical
    * (IvfAssignSpec pins it). */
  def assignUdf(spark: org.apache.spark.sql.SparkSession,
      cents: Array[(Int, Vector)]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(cents)
    F.udf { v: Seq[Float] =>
      val arr = new Array[Double](v.length)
      var i = 0
      while (i < arr.length) { arr(i) = v(i).toDouble; i += 1 }
      nearest(bc.value, Vectors.dense(arr), 1)(0)
    }
  }

  /** Cell ids of the `nprobe` euclidean-nearest centroids to `q`, nearest
    * first — bounded insertion selection (O(nlist·nprobe) with nprobe
    * tiny), not a full nlist sort per query row. Ties keep the
    * lower-cell-id centroid, matching the stable sort this replaces. */
  def nearest(cents: Array[(Int, Vector)], q: Vector, nprobe: Int): Array[Int] = {
    val n = math.min(nprobe, cents.length)
    val bestD = Array.fill(n)(Double.MaxValue)
    val bestId = new Array[Int](n)
    var i = 0
    while (i < cents.length) {
      val d = Vectors.sqdist(cents(i)._2, q)
      if (d < bestD(n - 1)) {
        var j = n - 1
        while (j > 0 && bestD(j - 1) > d) {
          bestD(j) = bestD(j - 1); bestId(j) = bestId(j - 1); j -= 1
        }
        bestD(j) = d; bestId(j) = cents(i)._1
      }
      i += 1
    }
    bestId
  }
}

/** index.build — persist a vector index so ANN probes prune I/O instead of
  * scanning the corpus (round-1 review: knn.ivf re-trained its quantizer
  * inside every query — correct, but the index belongs OUTSIDE the query
  * at 100 TB).
  *
  * `type = "ivf"` (default) — layout under `path`:
  *   corpus/    the input rows + `cell` (nearest-centroid id), written
  *              `partitionBy("cell")` — a probe filtering `cell IN (...)`
  *              becomes parquet PARTITION PRUNING: nprobe/nlist of the
  *              bytes are read, visible as PartitionFilters in the scan
  *   centroids/ (cell INT, centroid ARRAY<DOUBLE>) — nlist rows, tiny;
  *              probes rank these driver-side to pick cells
  * The quantizer is MLlib KMeans on a bounded sample (`max_train`), the
  * standard IVF recipe: centroid quality needs a sample, assignment is one
  * broadcast-model map pass over the full corpus.
  *
  * `type = "lsh"` — the classic multi-probe LSH table layout, built by the
  * shared LshIndex.build: each row's hyperplane signature (same machinery
  * as dedup.embedding) splits into keys — `blocks` slices of one
  * num_planes-bit signature (`blocking = "pigeonhole"`, default) or
  * `bands` independent band_planes-bit signatures (`blocking = "bands"`)
  * — and the row is written once PER KEY POSITION, partitioned by
  * (position, key % partition_dirs) with the exact key as a data column:
  * storage amplification = positions, dir count bounded by positions ×
  * partition_dirs REGARDLESS of signature width; probes prune on the
  * partition key and apply the exact key equality as a residual. meta/
  * records the signature parameters so probes regenerate identical
  * planes and dir keys (LshLayout).
  *
  * `type = "minhash" | "ngram" | "simhash"` — the flat text-signature
  * corpus of that dedup family, built by the shared TextSigDedup.build.
  *
  * Rebuild = re-run with mode=overwrite (default). Pass-through stage:
  * returns its input, so it composes mid-pipeline like table.write.
  */
object IndexBuildOp extends Stage {
  val name = "index.build"
  // Transform, not Sink: the DAG compiler defers Sink side effects until
  // after every plan is composed, but a downstream knn probe must LIST the
  // index files at plan time — index.build is a materialization barrier
  // that runs eagerly during plan composition and passes its input through.
  val kind = StageKind.Transform

  /** The bands-layout bucket-occupancy advisory, pure so the threshold
    * logic is spec-testable: ~rows/2^band_planes vectors share each
    * per-band bucket, candidate pairs grow linearly with that occupancy
    * (ScaleProbe 1M-2M rungs: 258 → 1007 cross pairs per probe row as
    * occupancy quadrupled), and past ~1000 rows/bucket the banded probe's
    * selectivity advantage over a flat scan is gone. Returns the warning
    * line to emit, or None while occupancy is healthy. */
  private[graft] def bandsOccupancyWarning(rows: Long, bandPlanes: Int): Option[String] = {
    val occupancy = rows.toDouble / (1L << bandPlanes)
    if (occupancy <= 1000.0) None
    else {
      // smallest band_planes that brings occupancy back under 1000
      val needed = math.min(63,
        math.ceil(math.log(rows / 1000.0) / math.log(2.0)).toInt)
      Some(s"[graft] index.build blocking=bands: ~$rows vectors over " +
        s"2^$bandPlanes buckets per band = ~${math.round(occupancy)} rows/bucket — " +
        "banded-probe candidates grow linearly with occupancy and past ~1000 " +
        "rows/bucket the probe degrades toward a scan; rebuild with " +
        s"band_planes >= $needed (see docs/BENCH_NOTES.md, ANN 1M-2M rungs)")
    }
  }

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    // CLI `explain` must stay read-only: skip the eager build (the plan
    // shown is the pass-through input; the probe stage will list whatever
    // index already exists on disk, or fail loudly when run for real)
    if (cfg.boolOr("_explain_only", false)) return ctx.primary
    val mode = cfg.strOr("mode", "overwrite")
    def build(): Unit = {
      // a previous index.compact may have died mid-swap: repair before any
      // meta validation or corpus write (an append into the missing-corpus
      // window would fork a generation the repair would discard). Inside
      // the lease — an unleased repairer racing a live swap-mode compact's
      // two-rename window would "repair" a protocol mid-flight.
      cfg.strOpt("path").foreach(p => IndexMaintenance.recoverSwap(p))
      // a rebuild invalidates the recorded compacted generation (index.stats
      // would otherwise count the fresh corpus as zero appends-since-compact)
      // AND any generation-pointer state (the fresh corpus writes to the
      // classic dir; a surviving pointer would alias it to a stale gen)
      if (mode == "overwrite")
        cfg.strOpt("path").foreach { p =>
          GraftFs.deleteIfExists(s"$p/compact.gen")
          IndexSnapshot.resetGenerations(p)
        }
      // the signature expressions resolve against THIS stage's session
      graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
      cfg.strOr("type", "ivf") match {
        case "ivf" => buildIvf(ctx)
        case "ivfpq" => PqIndex.build(ctx)
        case "lsh" => LshIndex.build(ctx)
        case "exact" => buildExact(ctx)
        case other => TextSigFamily.byName(other) match {
          case Some(family) => TextSigDedup.build(ctx, family)
          case None => throw new GraftConfigError(
            s"index.build type must be ivf|ivfpq|lsh|minhash|ngram|simhash|exact, got '$other'")
        }
      }
    }
    // BOTH modes claim the shared writer lease. Append is the same
    // batch-appender class as the dedup index_append fires (its write
    // must not land inside a concurrent compact's rewrite window).
    // Overwrite is a REBUILD by explicit intent — but rebuilding an index
    // a live stream is appending to, or whose generational compact is
    // mid-rewrite, is the same corruption class (resetGenerations would
    // delete the compact's in-progress generation, and the compact's
    // later pointer commit would alias the fresh corpus to a deleted
    // dir) — so it too must fail loud while another writer is live.
    cfg.strOpt("path") match {
      case Some(p) =>
        graft.streaming.IngestLease.withBatchLease(p, s"index.build mode=$mode")(build())
      case None => build()
    }
    ctx.primary
  }

  /** mode=append validates against the existing meta: a corpus without
    * one (a crashed earlier build?) cannot be checked and fails loud. */
  private[operators] def requireMetaForAppend(path: String, op: String): Unit =
    if (GraftFs.isDir(IndexSnapshot.corpusDir(path)) && !GraftFs.isDir(s"$path/meta"))
      throw new GraftConfigError(
        s"$op mode=append: $path has a corpus but no meta (a crashed earlier build?) — " +
        "parameters cannot be validated; rebuild with mode=overwrite")

  // package-visible: index.compact's retrain_if rebuilds through this
  // entry under its OWN already-held lease (the public apply would
  // re-claim the same lease file and fail loud against itself)
  private[operators] def buildIvf(ctx: StageContext): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    val cfg = ctx.cfg
    val path = cfg.str("path")
    val vecCol = cfg.strOr("vector_column", "embedding")
    val mode = cfg.strOr("mode", "overwrite")
    // mode=append must NOT retrain: a second quantizer would append a
    // second centroid set (duplicate cell ids pointing at different
    // centers) and assign the new rows inconsistently with the old —
    // probes would silently lose recall. Appending re-uses the FROZEN
    // first-build quantizer: assign to the existing centroids, grow only
    // the cell-partitioned corpus.
    if (mode == "append") return appendIvf(ctx)
    if (mode != "overwrite") throw new GraftConfigError(
      s"index.build: mode must be overwrite|append, got '$mode'")
    val nlist = cfg.longOr("nlist", 16L).toInt
    val seed = cfg.longOr("seed", 11L)
    val maxTrain = cfg.longOr("max_train", 100000L).toInt

    // r13: the coarse quantizer trains DRIVER-SIDE on the bounded uniform
    // draw (Pq.trainSample — one shared TakeOrdered job with the pmod key,
    // footer prefilter, and starved-draw fallback; Pq.lloyd — the same
    // seeded Lloyd's the ivfpq codebooks already use). The sample is
    // capped at max_train BY CONSTRUCTION, so training is driver-scale
    // work at any corpus size (100k × 64 dims ≈ 50 MB), while the old
    // distributed MLlib KMeans paid ~18 scheduler jobs per fit against a
    // cached sample — measured 1.2 s of the knn_ivf_exhaustive gate's
    // 1.66 s job wall (GateAudit r13) that a 2,000-row fixture cannot
    // amortize and a 100 TB corpus never needed (the draw, not the fit,
    // is the distributed part). Assignment stays one broadcast map pass.
    val sample = Pq.trainSample(ctx.primary, F.col(vecCol), maxTrain, seed)
    if (sample.isEmpty)
      throw new GraftPlanError("index.build type=ivf: empty input, nothing to train the quantizer on")
    val centsArr = Pq.lloyd(sample, nlist, Pq.TrainIters, seed)
    val cents = centsArr.zipWithIndex.map { case (c, i) => (i, Vectors.dense(c)) }
    val assign = IvfCentroids.assignUdf(ctx.spark, cents)
    // co-locate cells before the partitioned write (one file per
    // populated cell instead of input_partitions × cells droplets)
    ctx.primary.withColumn("cell", assign(F.col(vecCol).cast("array<float>")))
      .repartition(F.col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(IndexSnapshot.corpusDir(path))

    // nlist driver-held rows — driver-side write, no Spark job
    DriverParquet.overwrite(s"$path/centroids", Seq(
      DriverParquet.I32("cell", centsArr.indices),
      DriverParquet.DblArr("centroid", centsArr.map(_.toSeq).toSeq)))
    Pq.warnCellSkew(ctx.spark, path, "index.build type=ivf", nlist)
  }

  /** mode=append for type=ivf: assign new rows to the EXISTING centroids
    * (broadcast into one UDF — nlist rows) and append to the
    * cell-partitioned corpus; the quantizer stays frozen at first build,
    * so old and new rows share one consistent cell space and every probe
    * (`knn.ivf`, `knn.join`) sees the union. Centroid quality for rows far
    * from the training distribution is the standard IVF drift trade-off —
    * rebuild with mode=overwrite to retrain. */
  private def appendIvf(ctx: StageContext): Unit = {
    import org.apache.spark.ml.linalg.Vectors
    val cfg = ctx.cfg
    val path = cfg.str("path")
    val vecCol = cfg.strOr("vector_column", "embedding")
    val spark = ctx.spark
    if (!GraftFs.isDir(s"$path/centroids"))
      throw new GraftConfigError(
        s"index.build type=ivf mode=append: no existing index at $path — the quantizer " +
        "is frozen at first build (appending re-uses its centroids so cell assignment " +
        "stays consistent); run mode=overwrite first")
    val cents = IvfCentroids.load(spark, path, "index.build type=ivf mode=append")
    val dim = cents.head._2.size
    ctx.primary.select(F.size(F.col(vecCol))).head(1).headOption.foreach { r =>
      if (r.getInt(0) != dim) throw new GraftConfigError(
        s"index.build type=ivf mode=append: input vectors have length ${r.getInt(0)} " +
        s"but the index at $path was built with dim = $dim")
    }
    val assign = IvfCentroids.assignUdf(spark, cents)
    // the shared batch-appender lease is claimed by the mode=append
    // dispatch in apply() — one claim for every family's append write
    ctx.primary.withColumn("cell", assign(F.col(vecCol).cast("array<float>")))
      .repartition(F.col("cell"))
      .write.mode("append").partitionBy("cell").parquet(IndexSnapshot.corpusDir(path))
    Pq.warnCellSkew(spark, path, "index.build type=ivf mode=append", cents.length)
  }

  /** `type = "exact"` — the exact-dedup key set: distinct 128-bit md5
    * content keys over `columns` (DedupExactOp.contentKey), for
    * `dedup.exact index_path = ...` — a new batch drops already-ingested
    * rows via one anti-join on narrow keys, never re-reading old data. */
  private def buildExact(ctx: StageContext): Unit = {
    val cfg = ctx.cfg
    val path = cfg.str("path")
    val cols = cfg.strListOr("columns", ctx.primary.columns.toVector)
    val mode = cfg.strOr("mode", "overwrite")
    val spark = ctx.spark
    if (mode == "append") requireMetaForAppend(path, "index.build type=exact")
    if (mode == "append" &&
        GraftFs.isDir(s"$path/meta")) {
      val m = IndexMeta.head(spark, s"$path/meta")
      val existing = m.getSeq[String](m.fieldIndex("columns")).toVector
      if (existing != cols.toVector) throw new GraftConfigError(
        s"index.build type=exact mode=append: columns ${cols.mkString(", ")} differ " +
        s"from the existing index at $path (${existing.mkString(", ")}) — keys would never match")
    }
    ctx.primary.select(DedupExactOp.contentKey(cols).alias("key")).distinct()
      .write.mode(mode).parquet(IndexSnapshot.corpusDir(path))
    DriverParquet.overwrite(s"$path/meta",
      Seq(DriverParquet.StrArr("columns", Seq(cols))))
  }
}
