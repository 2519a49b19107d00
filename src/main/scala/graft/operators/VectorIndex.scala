package graft.operators

import org.apache.spark.sql.DataFrame
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
  * corpus of that dedup family, built by the shared TextSigFamily.build.
  *
  * `type = "exact"` — the exact-dedup key set of ExactIndex.
  *
  * Every type builds through IndexCatalog.build: `mode` is overwrite or
  * append, under the index's writer lease, and an append must find an
  * index of the same kind (or none) at `path`.
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
    // CLI `explain` must stay read-only: skip the eager build (the plan
    // shown is the pass-through input; the probe stage will list whatever
    // index already exists on disk, or fail loudly when run for real)
    if (!ctx.cfg.boolOr("_explain_only", false)) IndexCatalog.build(ctx)
    ctx.primary
  }
}
