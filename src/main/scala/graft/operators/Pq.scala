package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._
import scala.jdk.CollectionConverters._

/** The quantizer arithmetic of the ivf layouts (see [[IvfLayout]]): the
  * seeded training draw, Lloyd's k-means, nearest-center selection, the
  * product-quantization codebooks and encoder (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011), and the
  * cell-occupancy and skew measures of a cell-partitioned corpus. Pure
  * functions over arrays and parquet footers; [[IvfIndex]] owns every
  * on-disk table. */
private[graft] object Pq {

  /** Deterministic Lloyd's k-means on a bounded in-memory sample. Seeded
    * k-means++ init over distinct points (k clamps to the distinct count —
    * duplicating a center would just split ties unstably); empty clusters
    * keep their previous center. Returns exactly `kEff` centers. */
  def lloyd(points: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "lloyd: empty sample")
    val dim = points(0).length
    // Array equality is by reference — dedupe by content
    val distinct = points.map(_.toSeq).distinct.map(_.toArray)
    val kEff = math.min(k, distinct.length)
    val rnd = new scala.util.Random(seed)
    // seeded k-means++ init (r13; was a shuffled draw): each next center
    // is drawn with probability ∝ squared distance to the nearest chosen
    // center — the standard spread-out init. Deterministic (seeded RNG,
    // sequential scan), O(kEff · n · dim) on a sample bounded by
    // max_train. Measurably better pruned recall than the shuffle init on
    // the same draw (AnnRecallSpec fixture: shuffle init read ivf
    // recall@10 = 0.59 where MLlib's k-means|| read 0.64; ++ init
    // recovers the spread the shuffle draw loses when two initial
    // centers land close together).
    def sqd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < dim) { val d = a(j) - b(j); s += d * d; j += 1 }
      s
    }
    val centers = new Array[Array[Double]](kEff)
    centers(0) = distinct(rnd.nextInt(distinct.length)).clone()
    val d2 = Array.fill(distinct.length)(Double.MaxValue)
    var ci = 1
    while (ci < kEff) {
      var i = 0
      var total = 0.0
      while (i < distinct.length) {
        val d = sqd(distinct(i), centers(ci - 1))
        if (d < d2(i)) d2(i) = d
        total += d2(i)
        i += 1
      }
      var pick = -1
      if (total > 0.0) {
        val target = rnd.nextDouble() * total
        var acc = 0.0
        i = 0
        while (i < distinct.length && pick < 0) {
          acc += d2(i)
          if (acc >= target && d2(i) > 0.0) pick = i
          i += 1
        }
      }
      if (pick < 0) {
        // numerically-degenerate tail (all remaining mass ~0): first
        // not-yet-chosen distinct point keeps the init total and
        // deterministic — distinct points guarantee one exists
        i = 0
        while (i < distinct.length && pick < 0) {
          if (d2(i) > 0.0) pick = i
          i += 1
        }
        if (pick < 0) pick = ci // unreachable with distinct points
      }
      centers(ci) = distinct(pick).clone()
      ci += 1
    }

    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      // assignment
      var i = 0
      while (i < points.length) {
        assign(i) = nearest(centers, points(i))
        i += 1
      }
      // update
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Int](kEff)
      i = 0
      while (i < points.length) {
        val c = assign(i); val p = points(i)
        var d = 0
        while (d < dim) { sums(c)(d) += p(d); d += 1 }
        counts(c) += 1
        i += 1
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          var d = 0
          while (d < dim) { centers(c)(d) = sums(c)(d) / counts(c); d += 1 }
        } // empty cluster: keep the previous center
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Index of the L2-nearest center — ties keep the lower index, so
    * encode/probe decisions are deterministic. */
  def nearest(centers: Array[Array[Double]], p: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      var d = 0.0; var j = 0; val ctr = centers(c)
      while (j < p.length) { val x = p(j) - ctr(j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Indices of the `n` L2-nearest centers to `q`, nearest first — bounded
    * insertion selection (O(centers·n) with n tiny), not a full sort per
    * query. The distance sums the same squares in the same order as
    * [[nearest]] and ties keep the lower index, so the first cell is
    * always `nearest(centers, q)`. */
  def nearestCells(centers: Array[Array[Double]], q: Array[Double], n0: Int): Array[Int] = {
    val n = math.min(n0, centers.length)
    val bestD = Array.fill(n)(Double.MaxValue)
    val bestId = new Array[Int](n)
    var c = 0
    while (c < centers.length) {
      var d = 0.0; var j = 0; val ctr = centers(c)
      while (j < q.length) { val x = q(j) - ctr(j); d += x * x; j += 1 }
      if (d < bestD(n - 1)) {
        var i = n - 1
        while (i > 0 && bestD(i - 1) > d) {
          bestD(i) = bestD(i - 1); bestId(i) = bestId(i - 1); i -= 1
        }
        bestD(i) = d; bestId(i) = c
      }
      c += 1
    }
    bestId
  }

  /** Per-subspace codebooks over residual samples: codebooks(s)(code) is
    * the center of subspace s. Each subspace trains from its own slice
    * with its own derived seed. */
  def trainCodebooks(residuals: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int, seed: Long): Array[Array[Array[Double]]] = {
    val dim = residuals(0).length
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val slice = residuals.map(r => java.util.Arrays.copyOfRange(r, s * dsub, (s + 1) * dsub))
      lloyd(slice, ksub, iters, seed + 7919L * (s + 1))
    }
  }

  /** Encode one vector: (cell, m-byte codes, exact norm). `cents` is the
    * coarse centroid array indexed by cell id. */
  def encode(v: Array[Double], cents: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): (Int, Array[Byte], Double) = {
    val cell = nearest(cents, v)
    val ctr = cents(cell)
    val dim = v.length
    val m = codebooks.length
    val dsub = dim / m
    val codes = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val slice = new Array[Double](dsub)
      var j = 0
      while (j < dsub) { slice(j) = v(s * dsub + j) - ctr(s * dsub + j); j += 1 }
      codes(s) = (nearest(codebooks(s), slice) & 0xFF).toByte
      s += 1
    }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += v(j) * v(j); j += 1 }
    (cell, codes, math.sqrt(norm))
  }

  val TrainIters = 15

  /** Deterministic UNIFORM training draw for every quantizer/codebook
    * trainer. `df.limit(n)` takes the FIRST rows in plan order — a real
    * curated corpus is almost never in random order (it is sorted or
    * partitioned by source, domain, or time), so a plain limit trains the
    * quantizer on one domain's slice: coarse centroids crowd that domain,
    * the rest of the corpus piles into few cells, and every cell-pruned
    * probe loses selectivity. Ordering by a seeded content hash of the
    * vector de-correlates the draw from storage order while staying
    * deterministic (same rows + seed → same sample, any partitioning).
    * Cost: one TakeOrdered over the projected vector column — a bounded
    * per-partition top-k with an n·maxTrain driver merge, the same price
    * class as the limit it replaces plus the scan it was already paying.
    * The hash is the tie-order too (second key = the vector itself, so
    * even a 64-bit collision at the cutoff stays deterministic).
    *
    * r13: ONE canonical draw for every trainer (ivf, ivfpq, the in-op
    * codebook trainers) — the draw key is the hash folded into [0, 2^40)
    * and the footer-priced prefilter from the old MLlib path moved in
    * here: when the input is a pure parquet scan whose row count the
    * footers give for free (MixOp.scanRowCount) and it far exceeds the
    * sample, only rows whose key falls in the first 2·maxTrain/n of the
    * key space reach the TakeOrdered — the global top-maxTrain keys all
    * sit under that threshold except with probability e^(-maxTrain/4)
    * ≈ 0, so the draw is unchanged, but the top-k heap sees ~2·maxTrain
    * rows instead of the corpus (at 100 TB the draw costs a filtered
    * scan, not a corpus-wide heap). Duplicate vectors share one key, so
    * a duplicate-heavy corpus can starve the filtered draw — a short
    * filtered result falls back to the unfiltered draw (the detection is
    * free: the collected array length is the row count). Known cost
    * limitation, not a correctness one: the keep threshold is sized from
    * the FOOTER row count, which includes null-vector rows the isNotNull
    * filter drops — a null-heavy corpus therefore tends to run the
    * filtered draw short and pay both scans; the fallback keeps the draw
    * itself exact. */
  def trainSample(df: DataFrame, vec: org.apache.spark.sql.Column,
      maxTrain: Int, seed: Long): Array[Array[Double]] = {
    val projected = df.select(vec.cast("array<double>").alias("_v"))
      .filter(F.col("_v").isNotNull)
    val u = F.pmod(F.xxhash64(F.lit(seed), F.col("_v")), F.lit(1L << 40))
    def draw(src: DataFrame): Array[Array[Double]] =
      src.orderBy(u, F.col("_v")).limit(maxTrain)
        .collect().map(_.getSeq[Double](0).toArray)
    val filtered = MixOp.scanRowCount(df) match {
      case Some(nRows) if nRows > 4L * maxTrain =>
        val keep = math.max(1L,
          ((1L << 40).toDouble * 2.0 * maxTrain / nRows).toLong)
        Some(draw(projected.filter(u < F.lit(keep))))
      case _ => None
    }
    filtered match {
      case Some(s) if s.length >= maxTrain => s
      case _ => draw(projected)
    }
  }

  /** The hottest cell's share of the corpus × nlist: 1.0 = perfectly
    * balanced, nlist = everything in one cell. None for an empty corpus. */
  def cellSkew(cellRows: Iterable[Long], nlist: Int): Option[Double] = {
    val total = cellRows.sum
    if (total == 0 || nlist < 1) None else Some(cellRows.max.toDouble * nlist / total)
  }

  /** ivf/ivfpq cell-skew advisory — the cell-layout sibling of the bands
    * bucket-occupancy warning. A healthy coarse quantizer spreads the
    * corpus ~1/nlist per cell; when the hottest cell holds many multiples
    * of that share, fixed-nprobe probes lose recall balance (hot cells
    * dominate every candidate set, cold cells prune to nothing) — the
    * observable symptom of a quantizer trained on a non-uniform sample.
    * Pure, so the threshold is unit-testable. Returns the stderr line to
    * emit, or None while the spread is healthy. */
  def cellSkewWarning(op: String, cellRows: Iterable[Long], nlist: Int): Option[String] =
    cellSkew(cellRows, nlist).filter(_ > 4.0).map(ratio =>
      f"[graft] $op: hottest cell holds ${cellRows.max} of ${cellRows.sum} corpus rows — " +
      f"${ratio}%.1fx the balanced 1/$nlist share. The coarse quantizer is " +
      "skewed (typical cause: training sample not representative of the " +
      "corpus); probes at fixed nprobe lose recall balance. Retrain with " +
      "mode=overwrite (larger max_train helps), or raise nlist.")

  /** Per-cell corpus row counts straight from the parquet footers of the
    * cell-partitioned layout (`corpus/cell=N/part-*.parquet`) — metadata
    * only, pooled driver reads (IndexSnapshot.footerRowCounts), the same
    * trick as index.stats. Files not under a cell= dir (none in the
    * ivf/ivfpq layout) are ignored. */
  def cellOccupancy(corpusDir: String): Map[Int, Long] = {
    val byCell = IndexSnapshot.files(corpusDir, s"cellOccupancy: no corpus at $corpusDir")
      .flatMap { f =>
        GraftFs.relativize(corpusDir, f).split('/')
          .find(_.startsWith("cell=")).map(_.stripPrefix("cell=").toInt -> f)
      }
    byCell.map(_._1).zip(IndexSnapshot.footerRowCounts(byCell.map(_._2)))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Column-chunk COMPRESSED bytes for the top-level columns in `cols`,
    * straight from the parquet footers — the bytes a column-pruned scan of
    * these files actually reads. Used by ScaleProbe's ivfpq rungs and by
    * index.stats' pq_scan_ratio (the per-index, measured version of the
    * BENCH_NOTES scan-bytes claim). O(files) driver footer reads. */
  def columnChunkBytes(files: Seq[String], cols: Set[String]): Long =
    IndexSnapshot.footers(files)(_.getBlocks.asScala
      .flatMap(_.getColumns.asScala)
      .filter(c => cols.contains(c.getPath.iterator.next()))
      .map(_.getTotalSize).sum).sum
}
