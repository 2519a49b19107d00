package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._

/** Crash-swap repair for `ingest.compact` (the OUTPUT-side sibling of
  * `index.compact`): the compaction protocol commits through a manifest —
  * (1) write the complete folded generation under `_ingest_compact_tmp/`
  * (invisible to readers: `_` prefix), (2) write
  * `_ingest_compact_manifest.json` naming every source partition dir (THE
  * commit point), (3) hold each source dir aside under
  * `_ingest_compact_old/`, (4) install the folded generation as
  * `ingest_batch=-1`, (5) delete old, manifest, tmp — in that order. A
  * crash BEFORE the manifest leaves only invisible `_` artifacts (rolled
  * back / cleaned); a crash AFTER it rolls forward deterministically (the
  * manifest pins the source set, the tmp generation is complete by
  * construction). At no crash point can a reader see a row twice; the
  * worst transient state is held-aside rows missing until the next repair.
  */
private[graft] object IngestMaintenance {

  def recoverSwap(root: String): Unit = synchronized {
    // the lock serializes repairs within one JVM; across processes (a
    // stream.ingest start racing a crashed compact's repair from another
    // graft run) the repair is idempotent over directory states — a lost
    // rename race (Hadoop FS rename returns false rather than throwing)
    // re-stats and re-runs until the winner's result is visible. These dir
    // moves only exist where ingest.compact ran, whose entry point guards
    // atomic-rename capability, so they never run on a copy-rename store.
    var attempts = 0
    var done = false
    while (!done) {
      if (repairOnce(root)) done = true
      else {
        attempts += 1
        if (attempts >= 5) {
          // converged iff no commit marker and no held sources remain
          if (!GraftFs.exists(s"$root/_ingest_compact_manifest.json") &&
              !GraftFs.isDir(s"$root/_ingest_compact_old")) done = true
          else throw new GraftPlanError(
            s"ingest maintenance: crash-swap repair at $root did not converge " +
            s"after $attempts attempts")
        } else Thread.sleep(20L * attempts)
      }
    }
  }

  /** One repair pass; false = a rename lost a race and the caller should
    * re-stat and retry. */
  private def repairOnce(root: String): Boolean = {
    if (!GraftFs.isDir(root)) return true
    val manifest = s"$root/_ingest_compact_manifest.json"
    val tmpData = s"$root/_ingest_compact_tmp/data"
    val old = s"$root/_ingest_compact_old"
    val target = s"$root/ingest_batch=-1"
    if (GraftFs.exists(manifest)) {
      // the manifest is written only after the tmp generation is complete
      // → roll FORWARD: finish holding sources aside, install, clean up.
      // The manifest names only ingest_batch=<id> source dirs, NEVER the
      // compacted region: whether the `ingest_batch=-1` on disk is the
      // old folded generation (pre-install — its rows are already merged
      // into tmp) or the freshly installed one (post-install — must not
      // be touched) is decided by whether tmp still exists.
      val names = GraftFs.readString(manifest)
        .linesIterator.map(_.trim).filter(_.nonEmpty).toVector
      GraftFs.mkdirs(old)
      for (n <- names) {
        val src = s"$root/$n"
        if (GraftFs.isDir(src) && !GraftFs.rename(src, s"$old/$n")) return false
      }
      if (GraftFs.isDir(tmpData)) {
        if (GraftFs.isDir(target)) {
          // a repair that crashed exactly between this hold-aside and the
          // install can leave a stale held copy; it is already merged
          // into tmp, so clear it rather than fail the move
          GraftFs.deleteRec(s"$old/ingest_batch=-1.old")
          if (!GraftFs.rename(target, s"$old/ingest_batch=-1.old")) return false
        }
        if (!GraftFs.rename(tmpData, target)) return false
      }
      GraftFs.deleteRec(old)
      GraftFs.deleteIfExists(manifest)
      GraftFs.deleteRec(s"$root/_ingest_compact_tmp")
      true
    } else {
      // crash before the commit point: restore anything held aside (dir
      // names are preserved, so the move back is exact) and discard tmp
      if (GraftFs.isDir(old)) {
        for (heldName <- GraftFs.listNames(old)) {
          val back = s"$root/$heldName"
          if (!GraftFs.exists(back) && !GraftFs.rename(s"$old/$heldName", back))
            return false
        }
        GraftFs.deleteRec(old)
      }
      GraftFs.deleteRec(s"$root/_ingest_compact_tmp")
      true
    }
  }
}

/** ingest.compact — bound the partition count of a `stream.ingest` OUTPUT:
  * the stream writes one `ingest_batch=<id>` partition dir per micro-batch
  * (the idempotent-retry unit), so a long-running stream mints dirs
  * forever — per-minute triggers ≈ 500k dirs/year, the same small-files
  * rot `index.compact` heals on the index side. This verb folds all
  * partitions at-or-below a watermark into one compacted region,
  * `ingest_batch=-1` (a real BIGINT value, so the partition column's type
  * and every existing reader survive; -1 is never a live batch id —
  * Structured Streaming batch ids start at 0).
  *
  * SAFE BY CONSTRUCTION against the retry race: a replayed micro-batch
  * overwrites its own `ingest_batch=<id>` partition, so folding an
  * UNCOMMITTED batch would let the replay re-land rows that are already in
  * the compacted region — duplicates. ingest.compact therefore folds only
  * batch ids recorded in the stream's checkpoint `commits/` directory
  * (a committed batch never replays). No checkpoint (output divorced from
  * its stream)? Then an explicit `watermark` AND `force = true` are
  * required — the caller asserts quiescence the files can't prove.
  *
  * Crash-safe via the [[IngestMaintenance]] manifest protocol (readers of
  * the output are plain `spark.read.parquet` users with no repair hook, so
  * unlike the index swap, no crash point may expose a DUPLICATE row; this
  * protocol's worst transient state is held-aside rows missing until the
  * next ingest.compact / stream.ingest run repairs). Row counts are
  * checked before the commit point — a lossy rewrite aborts untouched.
  *
  * MATERIALIZATION BARRIER like index.compact: runs eagerly at
  * plan-compose time, passes its input through; CLI `explain` skips it.
  *
  * Config: `path` (the stream.ingest output root), `checkpoint` (default
  * `<path>/_checkpoint`, matching stream.ingest's default), `watermark`
  * (fold ids <= this; default: every committed id), `target_file_mb` = 128,
  * `force` = false (required when no checkpoint commits exist), and
  * optionally `compact_if` — policy thresholds (OR'd; any trip ⇒ fold)
  * so a scheduled maintenance stage folds only when the output is
  * actually fragmenting:
  *
  *   compact_if = { mean_file_kb_below = 512, files_above = 1000,
  *                  batch_dirs_above = 100 }
  *
  * `batch_dirs_above` counts the FOLDABLE (committed) batch partitions —
  * the number this verb can actually reduce. Decision cost is one
  * directory listing (the same numbers ingest.stats reports); omit
  * `compact_if` for unconditional folding.
  */
object IngestCompactOp extends Stage {
  val name = "ingest.compact"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    if (cfg.boolOr("_explain_only", false)) return ctx.primary
    val root = cfg.str("path")
    val targetMb = cfg.longOr("target_file_mb", 128L)
    if (targetMb < 1) throw new GraftConfigError("ingest.compact: target_file_mb must be >= 1")
    val spark = ctx.spark

    // hold-aside/install moves below are derived from atomic directory
    // rename — refuse up front on copy-rename object stores
    GraftFs.requireAtomicRename(root, "ingest.compact")
    // one fold at a time per output: two concurrent ingest.compact runs
    // share the _ingest_compact_tmp staging dir and manifest, and their
    // interleaved tmp-clobber/abort/commit states can delete committed
    // batch partitions with no folded generation installed. A SEPARATE
    // lease name from the stream's _ingest_out.lease, deliberately:
    // folding COMMITTED batches during a live stream is safe by
    // construction (disjoint partitions; committed ids never replay) and
    // must stay legal — only compact-vs-compact is excluded.
    // existence BEFORE the lease — claiming a lease mints the directory
    // (the claim file needs its parent), which would silence this guard
    if (!GraftFs.isDir(root)) throw new GraftPlanError(
      s"ingest.compact: no ingest output at $root")
    graft.streaming.IngestLease.withBatchLease(root, "ingest.compact",
      graft.streaming.IngestLease.CompactLeaseName) {
    IngestMaintenance.recoverSwap(root)

    // batch partitions present on disk
    val batchDirs = GraftFs.listDirNames(root).filter(_.startsWith("ingest_batch="))
    val idsOnDisk = batchDirs.flatMap(n => n.stripPrefix("ingest_batch=").toLongOption)

    // committed batch ids from the stream's checkpoint — the only ids that
    // can never replay and are therefore safe to fold
    val checkpoint = cfg.strOr("checkpoint", s"$root/_checkpoint")
    val commitsDir = s"$checkpoint/commits"
    val committed: Option[Set[Long]] =
      if (GraftFs.isDir(commitsDir))
        Some(GraftFs.listNames(commitsDir).flatMap(_.toLongOption).toSet)
      else None
    val watermark = cfg.longOpt("watermark")
    if (committed.isEmpty && (watermark.isEmpty || !cfg.boolOr("force", false)))
      throw new GraftConfigError(
        s"ingest.compact: no stream checkpoint commits at $checkpoint — committed and " +
        "in-flight batches are indistinguishable, and folding a batch that later " +
        "replays would duplicate its rows. Pass an explicit watermark AND force = true " +
        "to assert the stream is quiesced (or point `checkpoint` at the real location)")
    val foldable = idsOnDisk.filter(id => id >= 0 &&
      watermark.forall(id <= _) && committed.forall(_.contains(id)))
    val hasCompacted = idsOnDisk.contains(-1L)
    val nothingToFold = foldable.isEmpty || (foldable.size == 1 && !hasCompacted)
    if (nothingToFold)
      System.err.println(s"[graft] ingest.compact: $root — nothing to fold " +
        s"(${foldable.size} foldable batch dir(s))")

    // compact_if policy gate: skip the fold when nothing tripped
    val policySkipped = nothingToFold || cfg.tblOpt("compact_if").exists { cond =>
      val known = Set("mean_file_kb_below", "files_above", "batch_dirs_above")
      cond.table.keys.filterNot(known).foreach(k => throw new GraftConfigError(
        s"ingest.compact: unknown compact_if condition '$k' (use ${known.mkString(", ")})"))
      if (cond.table.isEmpty) throw new GraftConfigError(
        "ingest.compact: compact_if is present but names no condition")
      val parts = GraftFs.listFilesRec(root).filter { case (f, _) =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        name.startsWith("part-") && name.endsWith(".parquet") &&
        !GraftFs.relativize(root, f).split('/').exists { s =>
          s.startsWith("_") || s.startsWith(".")
        }
      }
      val meanKb =
        if (parts.isEmpty) 0.0 else parts.map(_._2).sum / 1024.0 / parts.size
      val tripped =
        cond.longOpt("mean_file_kb_below").exists(meanKb < _) ||
        cond.longOpt("files_above").exists(parts.size > _) ||
        cond.longOpt("batch_dirs_above").exists(foldable.size > _)
      if (!tripped)
        System.err.println(s"[graft] ingest.compact: $root — compact_if not tripped " +
          f"(${parts.size} files, mean $meanKb%.1f KiB, ${foldable.size} foldable " +
          "batch dir(s)) — skipped")
      !tripped
    }
    if (!policySkipped) {
    // the old compacted region is re-folded by READING it into the new
    // generation, but it is never listed in the manifest — recoverSwap
    // holds it aside only while the tmp generation exists (pre-install)
    val manifestNames = foldable.map(id => s"ingest_batch=$id")
    val sources = manifestNames ++
      (if (hasCompacted) Seq("ingest_batch=-1") else Seq.empty)

    val srcPaths = sources.map(n => s"$root/$n")
    val folded = spark.read.option("basePath", GraftFs.qualified(root))
      .parquet(srcPaths: _*)
      .drop("ingest_batch")
    val bytes = sources.flatMap(n => GraftFs.listFilesRec(s"$root/$n").map(_._2)).sum
    val targetBytes = targetMb * 1024L * 1024L
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

    val tmpData = s"$root/_ingest_compact_tmp/data"
    folded.repartition(nOut).write.mode("overwrite").parquet(tmpData)

    // refuse to commit a generation that lost (or invented) rows — this is
    // the last cheap moment before source dirs are held aside
    val before = folded.count()
    val after = spark.read.parquet(tmpData).count()
    if (before != after) {
      GraftFs.deleteRec(s"$root/_ingest_compact_tmp")
      throw new GraftPlanError(
        s"ingest.compact: rewrite row count mismatch at $root ($before before, $after " +
        "after) — compacted generation discarded, output left untouched")
    }

    // COMMIT POINT: the manifest names the exact source set; recoverSwap
    // rolls the rest forward from here no matter where a crash lands.
    // Committed via write-then-rename so no reader ever parses a torn
    // manifest as a shorter source list.
    GraftFs.writeStringCommit(s"$root/_ingest_compact_manifest.json",
      manifestNames.mkString("\n"))
    IngestMaintenance.recoverSwap(root)

    System.err.println(s"[graft] ingest.compact: $root — folded ${sources.size} " +
      s"partition dir(s) (${bytes / 1048576} MiB) into ingest_batch=-1 ($nOut file(s))")
    } // !policySkipped
    // the metrics mirror of the data fold: roll committed batches'
    // _metrics/batch-<id>.json files into one running summary — a
    // long-lived stream otherwise grows one JSON per micro-batch forever
    // and ingest.stats re-reads every file per call. Foldability here is
    // COMMITTED-ness, not data-dir presence: a committed batch whose rows
    // all deduped away has a metric file but no ingest_batch=<id> dir, and
    // keying on dirs would let `through` advance past it so the next fold
    // deletes it as stale without ever summing it (shrinking rows_in).
    // When the policy skipped the data fold this only sweeps crash
    // leftovers (files at or below the summary's fold frontier).
    graft.streaming.IngestMetrics.fold(root,
      if (policySkipped) (_: Long) => false
      else (id: Long) => id >= 0 && watermark.forall(id <= _) &&
        committed.forall(_.contains(id)))
    } // withBatchLease
    ctx.primary
  }
}

/** ingest.stats — fragmentation / health report for a `stream.ingest`
  * OUTPUT: the read-only companion of `ingest.compact` that answers
  * "should I fold yet?", mirroring index.stats on the index side. One row:
  *
  *   path, batch_dirs (live ingest_batch=<id> partitions), committed
  *   (how many of those the checkpoint has committed — the foldable set),
  *   uncommitted (dirs a replay may still overwrite — never foldable),
  *   compacted (1 if an ingest_batch=-1 region exists), files, bytes,
  *   mean_file_kb, lease_holder/lease_age_ms (the live stream writer's
  *   output lease, null when free), compact_lease_holder/
  *   compact_lease_age_ms (a running ingest.compact's lease — the two
  *   leases are deliberately separate files, so both are reported)
  *
  * Directory listing only — no data scan. Runs the crash repair first
  * like every other maintenance entry point. Config: `path`,
  * `checkpoint` (default `<path>/_checkpoint`).
  */
object IngestStatsOp extends Stage {
  val name = "ingest.stats"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val spark = ctx.spark
    import spark.implicits._
    if (cfg.boolOr("_explain_only", false))
      return Seq.empty[(String, Long, Long, Long, Long, Long, Long, Double,
          Option[String], Option[Long], Option[String], Option[Long],
          Option[Long], Option[Long], Option[Long], Option[Double], Option[Long])]
        .toDF("path", "batch_dirs", "committed", "uncommitted", "compacted",
          "files", "bytes", "mean_file_kb", "lease_holder", "lease_age_ms",
          "compact_lease_holder", "compact_lease_age_ms",
          "metric_batches", "rows_in", "survivors", "mean_batch_ms", "max_batch_ms")
    val root = cfg.str("path")
    IngestMaintenance.recoverSwap(root)
    if (!GraftFs.isDir(root)) throw new GraftPlanError(
      s"ingest.stats: no ingest output at $root")
    val batchDirs = GraftFs.listDirNames(root).filter(_.startsWith("ingest_batch="))
    val ids = batchDirs.flatMap(n => n.stripPrefix("ingest_batch=").toLongOption)
    val live = ids.filter(_ >= 0)
    val checkpoint = cfg.strOr("checkpoint", s"$root/_checkpoint")
    val commitsDir = s"$checkpoint/commits"
    val committedIds: Set[Long] =
      if (!GraftFs.isDir(commitsDir)) Set.empty
      else GraftFs.listNames(commitsDir).flatMap(_.toLongOption).toSet
    val parts = GraftFs.listFilesRec(root).filter { case (f, _) =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      name.startsWith("part-") && name.endsWith(".parquet") &&
      !GraftFs.relativize(root, f).split('/').exists { s =>
        s.startsWith("_") || s.startsWith(".")
      }
    }.map(_._2)
    val bytes = parts.sum
    val meanKb = if (parts.isEmpty) 0.0
      else math.round(bytes / 1024.0 / parts.size * 10) / 10.0
    // live-writer visibility, mirroring index.stats: the stream writer's
    // output lease and a running compact's lease (deliberately separate
    // files — see IngestCompactOp) — null columns when free
    val outLease = graft.streaming.IngestLease.holder(root,
      graft.streaming.IngestLease.OutLeaseName)
    val compactLease = graft.streaming.IngestLease.holder(root,
      graft.streaming.IngestLease.CompactLeaseName)
    // per-micro-batch throughput, from the _metrics JSONs stream.ingest
    // writes one-per-batch (null columns when the output predates them or
    // was written by a batch pipeline): totals + batch-duration spread —
    // the per-batch fixed cost is THE streaming scalability number, and
    // this is where an operator watches it without a Spark UI
    // two sources, totals identical before/after a fold: the compacted
    // summary (ingest.compact rolls committed batches' files into it) +
    // the still-unfolded per-batch files (torn writes skip; ids at or
    // below the summary's fold frontier skip too — crash leftovers)
    val summary = graft.streaming.IngestMetrics.readSummary(root)
    val liveMetrics = graft.streaming.IngestMetrics.liveBatches(root)
    val nBatches = summary.map(_.batches).getOrElse(0L) + liveMetrics.size
    val (mBatches, mRows, mSurv, mMean, mMax) =
      if (nBatches == 0) (None, None, None, None, None)
      else (Some(nBatches),
        Some(summary.map(_.rowsIn).getOrElse(0L) + liveMetrics.map(_._2).sum),
        Some(summary.map(_.survivors).getOrElse(0L) + liveMetrics.map(_._3).sum),
        Some(math.round((summary.map(_.durSum).getOrElse(0L) + liveMetrics.map(_._4).sum)
          .toDouble / nBatches * 10) / 10.0),
        Some(math.max(summary.map(_.durMax).getOrElse(0L),
          liveMetrics.map(_._4).maxOption.getOrElse(0L))))
    Seq((root, live.size.toLong, live.count(committedIds.contains).toLong,
        live.count(id => !committedIds.contains(id)).toLong,
        (if (ids.contains(-1L)) 1L else 0L), parts.size.toLong, bytes, meanKb,
        outLease.map(_._1), outLease.map(_._2),
        compactLease.map(_._1), compactLease.map(_._2),
        mBatches, mRows, mSurv, mMean, mMax))
      .toDF("path", "batch_dirs", "committed", "uncommitted", "compacted",
        "files", "bytes", "mean_file_kb", "lease_holder", "lease_age_ms",
        "compact_lease_holder", "compact_lease_age_ms",
        "metric_batches", "rows_in", "survivors", "mean_batch_ms", "max_batch_ms")
  }
}
