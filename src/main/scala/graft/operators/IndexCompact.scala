package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._

/** index.compact — physical compaction of an `index.build` index: rewrite
  * the corpus into few right-sized files, byte-identical rows, then commit
  * the new generation crash-safely. Incremental ingestion GROWS an
  * index one small append at a time — `dedup.* index_append = true` adds a
  * few part files per pipeline run, and `stream.ingest` adds one
  * `corpus/sb-<ckpt>-<batch>/` subdir per micro-batch — so after thousands
  * of batches a probe lists thousands of tiny files: the classic
  * small-files pathology (listing dominates, every scan task reads a
  * droplet). Compaction is the missing third verb of the index lifecycle:
  * build → append per batch → compact when fragmented.
  *
  * Layout-aware, driven by the index's own meta:
  *   - exact / minhash (flat corpus): coalesce to ceil(bytes /
  *     target_file_mb) files (default 128 MiB — the parquet-friendly
  *     scan-task size); streaming per-batch subdirs fold into the flat
  *     generation
  *   - lsh (block, pbucket) / ivf (cell): one file per partition dir via
  *     repartition on the partition columns — dir layout, partition
  *     pruning, and `basePath` column recovery all survive unchanged
  *
  * PURELY PHYSICAL: rows pass through exactly (no distinct, no re-keying,
  * no re-hashing) and `meta/`/`centroids/` are untouched, so probe results
  * are bit-identical before and after — the spec and the
  * index_compact_parity gate pin this. A row-count check between the
  * snapshot and the written generation aborts the commit on any mismatch
  * (the commit deletes the old generation; never trade durability for one
  * count scan).
  *
  * Generation-pointer commit, on every store: (1) write the rewrite fully
  * to a fresh `corpus-NNNNNN` dir, (2) record it in `compact.gen`, (3)
  * replace `corpus.ptr` with its name — THE commit, one small-file write,
  * atomic everywhere — (4) delete the old generation. Every reader
  * resolves the active corpus through IndexSnapshot.corpusDir, so a crash
  * before (3) leaves the old generation active and one after it the new;
  * the next compact collects every `corpus*` dir the pointer does not name.
  *
  * Maintenance contract (same single-writer rule as the kafka log and
  * index_append): run compact QUIESCED — no concurrent appender, probe, or
  * recovering streaming query on the same index. In particular a
  * stream.ingest query crashed mid-batch may hold an uncommitted
  * `corpus/sb-…` append; compacting before it replays folds that append
  * into the flat generation, and the replay's self-match exclusion
  * (excludeDir) can no longer see it — ENFORCED, not just documented:
  * a corpus holding any sb-* micro-batch dir refuses to compact unless
  * `force = true` asserts the stream is quiesced at a committed batch
  * (committed and in-flight appends are indistinguishable on disk).
  *
  * MATERIALIZATION BARRIER like index.build: runs eagerly at plan-compose
  * time and passes its input through, so it composes mid-pipeline; CLI
  * `explain` skips it (read-only).
  *
  * Config: `path` (the index root), `target_file_mb` = 128 (flat
  * layouts), `force` = false (required to fold stream.ingest sb-* dirs),
  * and optionally `compact_if` — POLICY thresholds so a scheduled
  * maintenance pipeline compacts only when fragmentation warrants it
  * (the shape a corpus-lifetime deployment actually runs, instead of
  * rewriting a healthy corpus every night):
  *
  *   compact_if = { mean_file_kb_below = 512, files_above = 1000,
  *                  appends_since_compact_above = 200 }
  *
  * Conditions OR together (any trip ⇒ compact; the table present but no
  * condition tripped ⇒ loud-logged no-op); the stats come from the same
  * listing index.stats reports, so the decision costs one directory
  * listing, no data scan. Omit `compact_if` for today's unconditional
  * behavior.
  */
object IndexCompactOp extends Stage {
  val name = "index.compact"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    if (cfg.boolOr("_explain_only", false)) return ctx.primary
    val path = cfg.str("path")
    val targetMb = cfg.longOr("target_file_mb", 128L)
    if (targetMb < 1) throw new GraftConfigError("index.compact: target_file_mb must be >= 1")
    if (cfg.has("layout")) throw new GraftConfigError(
      "index.compact: layout is no longer an option — every compact commits through " +
      "corpus.ptr (a corpus-NNNNNN generation named by one pointer write); drop the key")
    val spark = ctx.spark

    // THE WHOLE VERB runs under the shared batch/maintenance lease —
    // including the generation GC and the snapshot listing, not just the
    // rewrite: a batch index_append landing between an unleased listing
    // and a leased rewrite would be invisible to the snapshot and deleted
    // by the commit (the silent-miss class the lease exists for), and the
    // GC must never see — or collect — another compact's in-progress
    // generation. A live stream.ingest holding the index fails this claim
    // loud: the quiesced contract, enforced.
    graft.streaming.IngestLease.withBatchLease(path, "index.compact") {

    // the index kind (= corpus layout) from its own metadata
    val kind = IndexCatalog.open(ctx, "index.compact", path, IndexCatalog.Any).kind
    val partitionCols = kind.partitionCols

    val corpusDir = IndexSnapshot.corpusDir(path)
    val filesLen = IndexSnapshot.filesWithLen(corpusDir,
      s"index.compact: index at $path has no corpus directory")
    val files = filesLen.map(_._1)
    // the active generation is present, so (quiesced-maintenance
    // contract) every other corpus* dir is garbage: a crashed rewrite's
    // generation, the classic corpus/ a crash between the pointer commit
    // and its delete left behind, or a legacy swap's .old/.tmp dirs
    val active = GraftFs.path(corpusDir).getName
    GraftFs.listDirNames(path)
      .filter(g => g.startsWith("corpus") && g != active)
      .foreach(g => GraftFs.deleteRec(s"$path/$g"))
    if (files.nonEmpty) { // empty index — nothing to rewrite

    // a stream.ingest query crashed mid-batch may hold an UNCOMMITTED
    // corpus/sb-* append that its replay must still see via the excludeDir
    // self-match exclusion; folding it into the flat generation would make
    // the retried batch dedup against its own failed attempt and emit
    // nothing. Committed and in-flight sb-* dirs are indistinguishable
    // from here, so their mere presence blocks ANY corpus rewrite here —
    // compact and retrain alike — unless the caller asserts the stream is
    // quiesced at a committed batch.
    val sbDirs = files.map(f => GraftFs.relativize(corpusDir, f))
      .flatMap(_.split('/').dropRight(1))
      .filter(s => s.startsWith("sb-") || s.startsWith("ingest_tag=sb-"))
      .distinct
    def requireQuiesced(): Unit =
      if (sbDirs.nonEmpty && !cfg.boolOr("force", false))
        throw new GraftConfigError(
          s"index.compact: the corpus at $path holds ${sbDirs.size} stream.ingest " +
          "micro-batch append dir(s) (sb-*) — if the streaming query crashed mid-batch, " +
          "its replay dedups against its own folded append and emits nothing. Stop the " +
          "stream at a committed batch (or drop its checkpoint), then re-run with " +
          "force = true")

    // retrain_if policy gate — the observe→act closure over index.recall
    // and cell_skew: when the measured number crosses the threshold, the
    // quantizer is REBUILT from the current corpus (index.build
    // mode=overwrite semantics under this verb's already-held lease), so
    // appends that drifted off the frozen training distribution stop
    // costing recall. A retrain rewrites every corpus file, so it
    // supersedes the physical compact below.
    val retrainReason: Option[String] = cfg.tblOpt("retrain_if").flatMap(cond =>
      IndexRetrain.evaluate(ctx, path, kind, cond))
    retrainReason.foreach { reason =>
      requireQuiesced()
      IndexRetrain.retrain(ctx, path, corpusDir, cfg.tblOpt("retrain_if").get, reason)
    }

    // compact_if policy gate: skip the rewrite when nothing tripped. A
    // fired retrain skips it too (the rebuild just rewrote the corpus);
    // retrain_if present WITHOUT compact_if is a policy-only invocation —
    // untripped means untouched, not an unconditional rewrite.
    val policySkipped = retrainReason.isDefined || (cfg.tblOpt("compact_if") match {
      case None =>
        val policyOnly = cfg.tblOpt("retrain_if").isDefined
        if (policyOnly)
          System.err.println(s"[graft] index.compact: $path — retrain_if not " +
            "tripped (no compact_if) — skipped")
        policyOnly
      case Some(cond) =>
      val known = Set("mean_file_kb_below", "files_above", "appends_since_compact_above")
      cond.table.keys.filterNot(known).foreach(k => throw new GraftConfigError(
        s"index.compact: unknown compact_if condition '$k' (use ${known.mkString(", ")})"))
      if (cond.table.isEmpty) throw new GraftConfigError(
        "index.compact: compact_if is present but names no condition")
      val meanKb = filesLen.map(_._2).sum / 1024.0 / files.size
      lazy val sinceCompact = {
        val gen = s"$path/compact.gen"
        if (!GraftFs.exists(gen)) files.size.toLong
        else {
          val compacted = GraftFs.readString(gen)
            .linesIterator.map(_.trim).filter(_.nonEmpty).toSet
          files.count(f => !compacted.contains(GraftFs.relativize(corpusDir, f))).toLong
        }
      }
      val tripped =
        cond.longOpt("mean_file_kb_below").exists(meanKb < _) ||
        cond.longOpt("files_above").exists(files.size > _) ||
        cond.longOpt("appends_since_compact_above").exists(sinceCompact > _)
      if (!tripped)
        System.err.println(s"[graft] index.compact: $path — compact_if not tripped " +
          f"(${files.size} files, mean $meanKb%.1f KiB, $sinceCompact appends since " +
          "compact) — skipped")
      !tripped
    })
    if (!policySkipped) {
    requireQuiesced()
    val bytes = filesLen.map(_._2).sum

    val reader = spark.read
    val corpus0 = (if (partitionCols.nonEmpty)
                     reader.option("basePath", GraftFs.qualified(corpusDir))
                   else reader).parquet(files: _*)
    // bands layout: fold every ingest_tag into "base" — the tag is layout
    // provenance (which micro-batch appended the row), never probed, and a
    // long-running stream mints one (band, pband, tag) dir per populated
    // band per micro-batch; folding restores the bands × pdirs dir bound.
    // Probe results are unchanged (probes join on (band, pband, bsig) and
    // read the tag only for streaming self-exclusion, which the force-flag
    // quiesce contract already rules out here).
    val corpus = if (partitionCols.contains("ingest_tag"))
      corpus0.withColumn("ingest_tag", F.lit("base")) else corpus0

    // the rewrite goes STRAIGHT to the next generation dir (a crash leaves
    // an unreferenced dir the next compact garbage-collects — never a
    // partial active corpus)
    val next = 1L + GraftFs.listDirNames(path)
      .filter(_.startsWith("corpus-"))
      .flatMap(_.stripPrefix("corpus-").toLongOption)
      .foldLeft(0L)(math.max)
    val genName = f"corpus-$next%06d"
    val gen = s"$path/$genName"
    if (partitionCols.nonEmpty)
      corpus.repartition(partitionCols.map(F.col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(gen)
    else {
      val targetBytes = targetMb * 1024L * 1024L
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      corpus.repartition(nOut).write.mode("overwrite").parquet(gen)
    }

    // refuse to commit a generation that lost (or invented) rows: the
    // commit deletes the old corpus, so this is the last cheap moment to
    // notice a rewrite bug before it becomes data loss
    val before = corpus.count()
    val after = spark.read.parquet(gen).count()
    if (before != after) {
      GraftFs.deleteRec(gen)
      throw new GraftPlanError(
        s"index.compact: rewrite row count mismatch at $path ($before before, $after " +
        "after) — compacted generation discarded, index left untouched")
    }

    // record the compacted generation's file list (for index.stats'
    // appends_since_compact) BEFORE the commit, so a crash between the
    // commit and this write can't leave stats over-reporting the whole
    // corpus as fresh appends. A crash between this write and the commit
    // leaves compact.gen naming a discarded generation — stats then
    // over-report (reads as "never compacted"), which only triggers an
    // early re-compact, never skips one.
    val genFiles = IndexSnapshot.files(gen, s"index.compact: $gen vanished")
    val rel = genFiles.map(f => GraftFs.relativize(gen, f))
    GraftFs.writeStringCommit(s"$path/compact.gen", rel.mkString("\n"))

    // THE commit point: replace the pointer (single small-file PUT —
    // atomic everywhere); every reader resolves through
    // IndexSnapshot.corpusDir, so the switch is all-or-nothing. The old
    // generation is garbage after this line — best-effort delete, with
    // the next compact's GC as the backstop.
    GraftFs.writeStringCommit(s"$path/corpus.ptr", genName)
    GraftFs.deleteRec(corpusDir)

    System.err.println(s"[graft] index.compact: $path — ${files.size} files " +
      s"(${bytes / 1048576} MiB) → ${genFiles.size} files [generation $genName]")

    } // !policySkipped
    } // files.nonEmpty
    } // withBatchLease
    ctx.primary
  }
}

/** `retrain_if` — the remediation half of the index-quality loop. The
  * measurement half already exists (`index.recall` measures pruned-probe
  * recall, `index.stats` reports cell_skew); this closes it: a scheduled
  * maintenance pipeline can now say
  *
  *   [stages.maintain.config.retrain_if]
  *   recall_below = 0.8     # trip when measured mean recall@k drops below
  *   nprobe = 4             # ... at this probe width (k/queries/seed too)
  *   cell_skew_above = 4.0  # or when the hottest cell exceeds this ×fair-share
  *
  * and the quantizer is rebuilt from the CURRENT corpus only when a
  * measured number says it degraded. Conditions OR together; cell skew is
  * checked first (parquet footers only) so a layout-visible degradation
  * never pays the recall measurement (one corpus scan + q probes).
  *
  * The retrain itself is `index.build mode=overwrite` semantics executed
  * under index.compact's already-held writer lease: stage the corpus rows
  * (minus the layout's own columns) to `_retrain_src`, row-parity check,
  * then retrain + re-encode + rewrite through the same build internals a
  * user rebuild runs — fresh centroids (+ codebooks for ivfpq), fresh
  * meta, frozen-append compatibility preserved (later appends assign
  * against the NEW quantizer exactly as they would after a manual
  * rebuild). Crash contract, honestly: a crash between the corpus
  * overwrite starting and finishing loses the live corpus generation —
  * the same window a manual `index.build mode=overwrite` has — but the
  * staged `_retrain_src` copy survives until the rebuild succeeds, so the
  * rows are recoverable by hand. ivf/ivfpq only (the families with a
  * trainable quantizer; lsh planes are fixed at build, set-membership
  * families have nothing to retrain). */
private[operators] object IndexRetrain {

  /** Evaluate retrain_if against the measured index; Some(reason) when a
    * condition trips. Validates the table loud even when nothing trips. */
  def evaluate(ctx: StageContext, path: String, kind: IndexKind,
      cond: Cfg): Option[String] = {
    val known = Set("recall_below", "cell_skew_above", "nprobe", "k",
      "queries", "seed", "rerank", "id_column", "vector_column", "max_train",
      "corpus_sample")
    cond.table.keys.filterNot(known).foreach(k => throw new GraftConfigError(
      s"index.compact: unknown retrain_if key '$k' (use ${known.mkString(", ")})"))
    if (cond.doubleOpt("recall_below").isEmpty && cond.doubleOpt("cell_skew_above").isEmpty)
      throw new GraftConfigError(
        "index.compact: retrain_if must name recall_below and/or cell_skew_above")
    IndexCatalog.accept("index.compact retrain_if", path, kind, IndexCatalog.Ivf.copy(hint =
      Some("retrain_if applies to cell-quantized indexes (lsh planes are fixed at build; " +
        "the set-membership kinds have no quantizer)")))
    val spark = ctx.spark
    val skew = cond.doubleOpt("cell_skew_above").flatMap { thr =>
      if (thr <= 1.0) throw new GraftConfigError(
        s"index.compact: retrain_if.cell_skew_above must be > 1.0 (1.0 = perfectly balanced), got $thr")
      IvfIndex.cellSkew(IvfIndex.open(ctx, "index.compact retrain_if", path))
        .filter(_ > thr).map(ratio => f"cell_skew $ratio%.2f > $thr%.2f")
    }
    skew.orElse(cond.doubleOpt("recall_below").flatMap { thr =>
      if (thr <= 0.0 || thr > 1.0) throw new GraftConfigError(
        s"index.compact: retrain_if.recall_below must be in (0, 1], got $thr")
      val nprobe = cond.longOr("nprobe", 4L)
      val rCfg = Seq[(String, Any)](
        "path" -> path,
        "k" -> cond.longOr("k", 10L),
        "nprobe" -> nprobe,
        "queries" -> cond.longOr("queries", 20L),
        "seed" -> cond.longOr("seed", 11L)) ++
        cond.strOpt("id_column").map(v => "id_column" -> (v: Any)).toSeq ++
        cond.strOpt("vector_column").map(v => "vector_column" -> (v: Any)).toSeq ++
        cond.longOpt("rerank").map(v => "rerank" -> (v: Any)).toSeq ++
        // a SCHEDULED policy check at corpus scale should not pay a full
        // exact-truth scan per evaluation — index.recall's sampled mode
        // composes here
        cond.doubleOpt("corpus_sample").map(v => "corpus_sample" -> (v: Any)).toSeq
      val measured = IndexRecallOp(StageContext.one(spark, ctx.primary, Cfg.of(rCfg: _*)))
        .head().getAs[Double]("mean_recall")
      if (measured < thr) Some(f"mean_recall $measured%.4f < $thr%.4f at nprobe=$nprobe")
      else None
    })
  }

  /** Rebuild the quantizer from the current corpus. Caller holds the
    * writer lease and has verified the quiesced contract. */
  def retrain(ctx: StageContext, path: String, corpusDir: String, cond: Cfg,
      reason: String): Unit = {
    val spark = ctx.spark
    val files = IndexSnapshot.files(corpusDir,
      s"index.compact retrain: no corpus at $path")
    val corpus = spark.read.option("basePath", GraftFs.qualified(corpusDir))
      .parquet(files: _*)
    // drop only the columns the index layout minted; everything else —
    // ids, the vector, user payload — feeds the rebuild unchanged
    val idx = IvfIndex.open(ctx, "index.compact retrain", path)
    val src = corpus.select(
      corpus.columns.filterNot(idx.layout.corpusCols.contains).map(F.col).toSeq: _*)

    // stage BEFORE any destructive step: the overwrite below reads from
    // this copy, never from the directory it is rewriting
    val stage = s"$path/_retrain_src"
    GraftFs.deleteRec(stage)
    src.write.mode("overwrite").parquet(stage)
    val staged = spark.read.parquet(stage)
    val before = corpus.count()
    val after = staged.count()
    if (before != after) {
      GraftFs.deleteRec(stage)
      throw new GraftPlanError(
        s"index.compact retrain: staged copy row count mismatch at $path " +
        s"($before corpus, $after staged) — retrain aborted, index untouched")
    }

    // index.build mode=overwrite semantics, minus the lease this verb
    // already holds: invalidate the compacted-generation record and any
    // generation-pointer state, then run the same build internals
    GraftFs.deleteIfExists(s"$path/compact.gen")
    IndexSnapshot.resetGenerations(path)
    IvfIndex.build(StageContext.one(spark, staged, Cfg.of(idx.rebuildConfig(cond): _*)),
      idx.layout, s"index.build type=${idx.layout.name}", path, "overwrite", existing = false)
    GraftFs.deleteRec(stage) // rebuild landed — the recovery copy retires
    System.err.println(s"[graft] index.compact: $path — retrain_if tripped " +
      s"($reason): ${idx.layout.name} quantizer retrained on the current corpus " +
      s"($before rows)")
  }
}

/** index.stats — fragmentation / health report for an `index.build`
  * index: the read-only companion of `index.compact` that answers "should
  * I compact yet?". One output row:
  *
  *   path, index_type (exact|minhash|ngram|simhash|lsh|ivf|ivfpq), rows, files,
  *   bytes,
  *   mean_file_kb, stream_append_dirs (corpus/sb-* micro-batch dirs from
  *   stream.ingest), partition_dirs (populated (block,pbucket)/cell dirs;
  *   0 for flat layouts)
  *
  * `rows` is a parquet-metadata count over the corpus snapshot (footers
  * only — no data scan); everything else is directory listing. Safe to
  * run any time (it reads the generation corpus.ptr names, like every
  * other corpus reader); wire `files` / `mean_file_kb` into a maintenance
  * pipeline's filter to trigger `index.compact` conditionally.
  *
  * MATERIALIZATION SEMANTICS: a plain transform — the stats frame IS the
  * output (unlike index.compact, which passes its input through).
  */
object IndexStatsOp extends Stage {
  val name = "index.stats"
  val kind = StageKind.Transform

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val path = cfg.str("path")
    val spark = ctx.spark
    import spark.implicits._

    if (cfg.boolOr("_explain_only", false))
      return Seq.empty[(String, String, Long, Long, Long, Double, Long, Long, Long,
          Option[String], Option[Long], Option[Double], Option[Double], Option[Double])]
        .toDF("path", "index_type", "rows", "files", "bytes", "mean_file_kb",
          "stream_append_dirs", "partition_dirs", "appends_since_compact",
          "lease_holder", "lease_age_ms", "mean_bucket_occupancy", "pq_scan_ratio",
          "cell_skew")

    val index = IndexCatalog.open(ctx, "index.stats", path, IndexCatalog.Any)
    val (family, partitionCols) = (index.kind.indexType, index.kind.partitionCols)
    val corpusDir = IndexSnapshot.corpusDir(path)
    val filesLen = IndexSnapshot.filesWithLen(corpusDir,
      s"index.stats: index at $path has no corpus directory")
    val files = filesLen.map(_._1)
    val bytes = filesLen.map(_._2).sum
    // one dir per stream.ingest micro-batch (the per-batch idempotent
    // append target) — the lsh/ivf partition dirs are key=value segments
    val appendDirs = files.map(f => GraftFs.relativize(corpusDir, f))
      .flatMap(_.split('/').dropRight(1))
      // flat layouts: bare sb-* subdirs; bands layout: ingest_tag=sb-*
      // partition dirs (counted once per tag, not once per (band, pband))
      .filter(s => !s.contains("=") || s.startsWith("ingest_tag=sb-"))
      .distinct.size.toLong
    val partDirs =
      if (partitionCols.isEmpty) 0L
      else files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size.toLong
    val rows =
      if (files.isEmpty) 0L
      else spark.read.parquet(files: _*).count() // parquet footer count
    val meanKb = if (files.isEmpty) 0.0
      else math.round(bytes / 1024.0 / files.size * 10) / 10.0
    // files beyond the last compacted generation (index.compact records
    // its generation's file list in compact.gen) — the direct "appends
    // since last compact" trigger signal; never compacted → every file.
    // Self-healing heuristic: a compact crashed between its gen-write and
    // its pointer commit leaves gen naming a discarded generation, which reads here
    // as "everything is a fresh append" — an early re-compact, never a
    // skipped one.
    val gen = s"$path/compact.gen"
    val sinceCompact =
      if (!GraftFs.exists(gen)) files.size.toLong
      else {
        val compacted = GraftFs.readString(gen)
          .linesIterator.map(_.trim).filter(_.nonEmpty).toSet
        files.count(f => !compacted.contains(GraftFs.relativize(corpusDir, f))).toLong
      }
    // live-writer visibility: the lease body + heartbeat age, so a
    // maintenance pipeline can see "a writer holds this index" in the
    // same report it reads fragmentation from (and skip/schedule its
    // compact accordingly) — null columns when the index is free
    val lease = graft.streaming.IngestLease.holder(path)
    // bands layout only: mean rows per (band, bucket) — the linear-in-n
    // candidate driver the build-time advisory warns on (BENCH_NOTES r11
    // ANN rungs); a maintenance pipeline can watch it drift and trigger a
    // band_planes rebuild the way compact_if triggers folds. rows here is
    // the SIGNATURE row count (bands rows per vector), so vectors =
    // rows / bands and occupancy = vectors / 2^band_planes.
    val occupancy: Option[Double] = index.kind match {
      case l: LshLayout => l.occupancy(index.params, rows)
      case _ => None
    }
    // ivf/ivfpq only (null for every other kind), from the corpus footers,
    // no data scan: pq_scan_ratio is the measured vector-column bytes /
    // code-column bytes — the per-index, observable version of the
    // BENCH_NOTES scan-bytes claim (an ADC probe reads 1/ratio of the bytes
    // a flat probe would; ivfpq only); cell_skew is the hottest cell's
    // share of the corpus × nlist — 1.0 = perfectly balanced, ≫ 1 = a
    // skewed quantizer (the observable form of the build-time cell-skew
    // advisory: probes at fixed nprobe lose recall balance), which a
    // maintenance pipeline can watch drift and trigger a mode=overwrite
    // retrain on.
    val ivf = index.kind match {
      case _: IvfLayout => Some(IvfIndex.open(ctx, "index.stats", path))
      case _ => None
    }
    val pqScanRatio = ivf.flatMap(IvfIndex.pqScanRatio(_, files))
    val cellSkew = ivf.flatMap(IvfIndex.cellSkew(_)).map(r => math.round(r * 100) / 100.0)
    Seq((path, family, rows, files.size.toLong, bytes, meanKb, appendDirs, partDirs,
        sinceCompact, lease.map(_._1), lease.map(_._2), occupancy, pqScanRatio, cellSkew))
      .toDF("path", "index_type", "rows", "files", "bytes", "mean_file_kb",
        "stream_append_dirs", "partition_dirs", "appends_since_compact",
        "lease_holder", "lease_age_ms", "mean_bucket_occupancy", "pq_scan_ratio",
        "cell_skew")
  }
}
