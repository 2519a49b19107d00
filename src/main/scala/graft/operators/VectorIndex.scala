package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._

/** index.build — persist a vector index so ANN probes prune I/O instead of
  * scanning the corpus (round-1 review: knn.ivf re-trained its quantizer
  * inside every query — correct, but the index belongs OUTSIDE the query
  * at 100 TB).
  *
  * `type = "ivf"` (default) | `"ivfpq"` — the cell-partitioned corpus of
  * that IvfLayout plus `centroids/` (cell INT, centroid ARRAY<DOUBLE>),
  * built by the shared IvfIndex.build: a probe filtering `cell IN (...)`
  * becomes parquet PARTITION PRUNING (nprobe/nlist of the bytes are read,
  * visible as PartitionFilters in the scan). The quantizer trains
  * driver-side on a bounded sample (`max_train`), the standard IVF recipe:
  * centroid quality needs a sample, assignment is one broadcast map pass
  * over the full corpus.
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
        case ivf @ ("ivf" | "ivfpq") => IvfIndex.build(ctx, IvfLayout.byName(ivf).get)
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
