package graft.streaming

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.streaming.Trigger
import graft.config._
import graft.core._
import graft.operators.{DedupEmbeddingOp, DedupExactOp, DedupMinHashOp, DedupNgramOp,
  DedupSimHashOp, IndexCatalog, IndexKind, IndexSnapshot, LshLayout, TextSigFamily, TopKOp}

/** stream.ingest — streaming incremental corpus ingestion: each micro-batch
  * dedups against a persisted `index.build` corpus (plus within-batch
  * pairs), survivors land in the output parquet, and their signatures join
  * the index so LATER micro-batches dedup against them too. This composes
  * the two batch-mode pieces — `kafka.stream`/`file.stream` and
  * `dedup.* index_path=… index_append=true` — into one Structured
  * Streaming pipeline via foreachBatch; the reference has no equivalent
  * (its streaming stages ship two TODOs, src/core/streaming.rs:100-133).
  *
  *   kafka.stream → (transforms) → stream.ingest { index_path, dedup }
  *
  * Config: `path` (output parquet root), `index_path` (an existing
  * `index.build type=exact|minhash|ngram|simhash|lsh blocking=bands`
  * index), `dedup` = minhash (default) | exact | ngram | simhash |
  * embedding (bands-layout lsh index only — its (band, pband, ingest_tag)
  * partitioning is what gives micro-batches an idempotent append target),
  * `checkpoint` (default `<path>/_checkpoint`), `trigger` =
  * "available_now" (process the current backlog as deterministic
  * micro-batches, then stop — the batch-parity shape the correctness gate
  * pins) or `trigger_ms` processing-time, `timeout_ms` bounded run, and
  * every dedup.* config key passed through (id_column, text_column,
  * columns, threshold, …). `index_append = false` opts out into
  * probe-only mode (drop vs the index, never grow it).
  *
  * EXACTLY-ONCE without a transaction log, by making the one replayable
  * step idempotent. Structured Streaming replays at most the last
  * uncommitted micro-batch, with identical contents (checkpointed file
  * lists). Per batch, in order:
  *   1. dedup vs an index snapshot that EXCLUDES this batch's own append
  *      dir (`_stream_batch_tag` → IndexSnapshot excludeDir): a retry of a
  *      batch that already appended must not self-match, or it would emit
  *      nothing and the rows would exist only in the index;
  *   2. survivors OVERWRITE the output partition `ingest_batch=<id>`
  *      (dynamic partitionOverwriteMode — only this batch's partition is
  *      touched): a retry re-lands the same rows instead of duplicating;
  *   3. the index append OVERWRITES `corpus/<tag>/` (tag =
  *      sb-<checkpoint-hash>-<batchId>): a retry re-lands the same
  *      signatures instead of duplicating.
  * Steps 2 and 3 are each idempotent and step 1 makes their inputs
  * identical across retries, so any crash point replays to the same final
  * state. The output carries `ingest_batch` as a provenance column.
  *
  * Single-writer contract (same as the kafka log): one streaming query per
  * index at a time. The per-batch tag embeds a hash of the checkpoint
  * location, so a NEW checkpoint (= a new query identity reprocessing from
  * scratch) never overwrites a previous query's appends.
  *
  * 100 TB shape: each micro-batch probe is the batch-vs-index anti-join /
  * banded-LSH cross join of the batch ops — the index is never rescanned
  * as a whole (minhash candidates shuffle narrow (id, sig) rows on band
  * keys; exact is one anti-join on 128-bit keys), and state lives in the
  * index + checkpoint, not executor memory.
  */
/** ENFORCED single-writer lease for a stream.ingest index: a
  * `<index>/ingest.lease` file holding the writer's identity (checkpoint
  * location = query identity, query name, host/pid) with its mtime as the
  * heartbeat. Acquired before the query starts, refreshed every trigger,
  * released when the query's await completes (pipeline mode: via the
  * run's cleanup queue, which DagCompiler drains after awaiting all
  * streaming queries).
  *
  * Why enforcement matters (r7 verdict finding 3): two concurrent queries
  * on one index don't corrupt it — batch tags are checkpoint-namespaced —
  * but each snapshots the corpus without the other's in-flight appends,
  * so duplicate survivors pass silently. The lease turns that silent miss
  * into a loud failure naming the holder. A crashed query's lease ages
  * out: older than `lease_stale_ms` (default 10 min; any live query
  * heartbeats at staleMs/3) is reclaimable. The no-wait re-acquire
  * shortcut requires MORE than checkpoint equality: the held owner must
  * be this same JVM (host/pid/boot-nonce identity) or provably dead on
  * this same machine (same hostname + machine id, pid gone) — a
  * same-machine supervised restart reclaims instantly. A CROSS-HOST
  * restart (e.g. an orchestrator rescheduling the driver to another
  * node) cannot be distinguished from a second live writer, so it waits
  * out `lease_stale_ms` before reclaiming; deployments that reschedule
  * across nodes routinely should set `lease_stale_ms` to a few multiples
  * of their trigger interval to bound that wait. */
/** Per-micro-batch observability shared by stream.ingest / stream.sketch:
  * one `_metrics/batch-<id>.json` per micro-batch, written LAST (a batch
  * that died mid-write leaves no metrics row; its replay overwrites
  * exactly one — same batch-id keying as the data partition, so
  * exactly-once replays converge). COST DISCIPLINE: the r11 bench A/B
  * measured a naive version (read-back count job per batch) at ~0.6 s per
  * micro-batch of pure metrics overhead — so the landed-rows count reads
  * parquet FOOTERS on the driver (no Spark job), and rows_in is counted by
  * work the batch already runs ([[observedRows]] / the sketch's
  * emptiness count). */
private[graft] object IngestMetrics {
  def landedRows(dir: String): Long =
    IndexSnapshot.footerRows(GraftFs.listFilesRec(dir).map(_._1).filter { f =>
      val n = f.substring(f.lastIndexOf('/') + 1)
      n.startsWith("part-") && n.endsWith(".parquet")
    })

  private val RowsIn = "rows_in"

  /** `batch` with a row count observed as its rows flow through the first
    * job that reads them — pin the result so that happens once. */
  def observingRows(batch: DataFrame): DataFrame =
    batch.observe(RowsIn, F.count(F.lit(1)))

  /** The row count [[observingRows]] took, read after the batch's work
    * read every pinned row: zero jobs. The metric is present (0 for an
    * empty batch) once the pin is reachable; a missing one means the
    * lookup broke, and reading it as 0 would skip a non-empty batch's
    * index append — so it fails. */
  def observedRows(pinned: DataFrame): Long =
    pinned.select("*").queryExecution.observedMetrics.getOrElse(RowsIn,
      throw new IllegalStateException(s"stream.ingest: '$RowsIn' was not observed"))
      .getLong(0)

  def write(out: String, batchId: Long, rowsIn: Long, landed: Long,
      t0Nanos: Long): Unit = {
    GraftFs.mkdirs(s"$out/_metrics")
    GraftFs.writeString(s"$out/_metrics/batch-$batchId.json",
      s"""{"batch_id":$batchId,"rows_in":$rowsIn,"survivors":$landed,""" +
      s""""duration_ms":${(System.nanoTime() - t0Nanos) / 1000000},""" +
      s""""ts_ms":${System.currentTimeMillis()}}""")
  }

  /** The running fold of committed batches' metrics — one small JSON that
    * ingest.compact maintains so a long-lived stream's `_metrics/` dir
    * does not grow one file per micro-batch forever (and ingest.stats
    * does not re-read thousands of files per call). `through` is the
    * highest folded batch id: a `batch-<id>.json` at or below it is
    * already counted (a crash between the summary commit and the file
    * deletes can leave some behind) — readers skip it, the next fold
    * deletes it. */
  final case class Summary(batches: Long, rowsIn: Long, survivors: Long,
      durSum: Long, durMax: Long, through: Long)

  private def summaryFile(out: String) = s"$out/_metrics/compacted.json"

  def readSummary(out: String): Option[Summary] =
    try {
      val f = summaryFile(out)
      if (!GraftFs.isFile(f)) None
      else {
        val o = graft.js.JsVal.parseJson(GraftFs.readString(f))
          .asInstanceOf[graft.js.JsObj]
        def num(k: String) = o.fields(k).asInstanceOf[graft.js.JsNum].d.toLong
        Some(Summary(num("batches"), num("rows_in"), num("survivors"),
          num("duration_ms_sum"), num("duration_ms_max"), num("through")))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (id, rows_in, survivors, duration_ms) of the UNFOLDED per-batch
    * metric files — ids above the summary's `through`; torn writes skip. */
  def liveBatches(out: String): Vector[(Long, Long, Long, Long)] = {
    val dir = s"$out/_metrics"
    if (!GraftFs.isDir(dir)) return Vector.empty
    val through = readSummary(out).map(_.through).getOrElse(-1L)
    GraftFs.listNames(dir)
      .filter(n => n.startsWith("batch-") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("batch-").stripSuffix(".json").toLongOption)
      .filter(_ > through)
      .flatMap { id =>
        try {
          val o = graft.js.JsVal.parseJson(GraftFs.readString(s"$dir/batch-$id.json"))
            .asInstanceOf[graft.js.JsObj]
          def num(k: String) = o.fields(k).asInstanceOf[graft.js.JsNum].d.toLong
          Some((id, num("rows_in"), num("survivors"), num("duration_ms")))
        } catch { case _: Exception => None }
      }
  }

  /** Fold the metric files of `foldable` (committed, never-replaying)
    * batch ids into the summary — the metrics mirror of ingest.compact's
    * batch-dir fold. Crash-ordered: the merged summary COMMITS
    * (write-then-rename) before any per-batch file is deleted; `through`
    * makes the in-between state readable (see [[Summary]]). Unparseable
    * foldable files are deleted without contributing — the same skip
    * ingest.stats applied to them. */
  def fold(out: String, foldable: Long => Boolean): Unit = {
    val dir = s"$out/_metrics"
    if (!GraftFs.isDir(dir)) return
    val prev = readSummary(out)
    val prevThrough = prev.map(_.through).getOrElse(-1L)
    val ids = GraftFs.listNames(dir)
      .filter(n => n.startsWith("batch-") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("batch-").stripSuffix(".json").toLongOption)
    val stale = ids.filter(_ <= prevThrough)
    val toFold = ids.filter(id => id > prevThrough && foldable(id))
    if (toFold.nonEmpty) {
      val parsed = liveBatches(out).filter(b => foldable(b._1))
      val merged = Summary(
        prev.map(_.batches).getOrElse(0L) + parsed.size,
        prev.map(_.rowsIn).getOrElse(0L) + parsed.map(_._2).sum,
        prev.map(_.survivors).getOrElse(0L) + parsed.map(_._3).sum,
        prev.map(_.durSum).getOrElse(0L) + parsed.map(_._4).sum,
        math.max(prev.map(_.durMax).getOrElse(0L), parsed.map(_._4).maxOption.getOrElse(0L)),
        math.max(prevThrough, toFold.max))
      GraftFs.writeStringCommit(summaryFile(out),
        s"""{"batches":${merged.batches},"rows_in":${merged.rowsIn},""" +
        s""""survivors":${merged.survivors},"duration_ms_sum":${merged.durSum},""" +
        s""""duration_ms_max":${merged.durMax},"through":${merged.through}}""")
    }
    (stale ++ toFold).foreach(id => GraftFs.deleteIfExists(s"$dir/batch-$id.json"))
  }
}

private[graft] object IngestLease {
  val StaleMsDefault = 600000L

  private def leaseFile(dir: String, name: String) = s"$dir/$name"
  val IndexLeaseName = "ingest.lease"
  /** Lease name for OUTPUT directories: underscore-prefixed so Spark's
    * file listing treats it as hidden and parquet reads of the output
    * dir never see it (the index lease can live unprefixed because index
    * roots are never read as one parquet dir — only corpus/meta subdirs
    * are). */
  val OutLeaseName = "_ingest_out.lease"
  /** Lease name for ingest.compact's rewrite window — deliberately a
    * SEPARATE file from [[OutLeaseName]] so folding committed batches
    * stays legal while a live stream writes new ones. */
  val CompactLeaseName = "_ingest_compact.lease"

  /** One random nonce per JVM boot: owner equality (`heldOwner ==
    * identity()`) must mean THIS JVM, not "a process that happens to have
    * our old pid" — pids recycle, and the no-wait re-acquire shortcut
    * keyed on host/pid alone would let a pid-reuse impostor's lease read
    * as our own. */
  private lazy val bootNonce: String =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong()).take(8)

  /** Host identity for the liveness proof: hostname PLUS a machine id
    * (/etc/machine-id where readable). Containerized fleets clone
    * hostnames — a claimer on "localhost" elsewhere must not "prove" a
    * live remote holder dead just because no local process has its pid;
    * the machine id makes the same-host check mean same MACHINE. Both
    * lookups are wrapped: an unresolvable hostname degrades identity to
    * a constant (acquire still works; the liveness shortcut then never
    * fires, the conservative direction). */
  private lazy val hostId: String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case scala.util.control.NonFatal(_) => "unknown-host" }
    val mid = try {
      val p = java.nio.file.Paths.get("/etc/machine-id")
      if (java.nio.file.Files.isReadable(p))
        new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8).trim.take(8)
      else "nomid"
    } catch { case scala.util.control.NonFatal(_) => "nomid" }
    s"$host+$mid"
  }

  private def identity(): String =
    s"$hostId/${ProcessHandle.current().pid()}/$bootNonce"

  private def leaseBody(checkpoint: String, queryName: String): String =
    s"checkpoint=$checkpoint\nquery=$queryName\nowner=${identity()}"

  private def heldCheckpoint(body: String): String =
    body.linesIterator.find(_.startsWith("checkpoint="))
      .map(_.stripPrefix("checkpoint=")).getOrElse("")

  private def heldOwner(body: String): String =
    body.linesIterator.find(_.startsWith("owner="))
      .map(_.stripPrefix("owner=")).getOrElse("")

  /** Can the held owner ("hostId/pid/nonce") be PROVEN dead from here?
    * Only a same-MACHINE owner (hostname + machine id both match, not
    * hostname alone — see [[hostId]]) whose pid is gone. A different
    * machine, a live pid, an unparseable owner, or any lookup failure all
    * return false (the conservative answer: the claimer then waits out
    * staleness like any foreign takeover). */
  private def ownerProvablyDead(owner: String): Boolean =
    try {
      val parts = owner.split('/')
      if (parts.length != 3) return false
      if (parts(0) != hostId) return false
      val h = ProcessHandle.of(parts(1).toLong)
      !h.isPresent || !h.get().isAlive
    } catch { case scala.util.control.NonFatal(_) => false }

  /** DRIVER-SIDE heartbeat scheduler, one daemon thread for every lease
    * this JVM holds. The heartbeat must NOT live inside foreachBatch:
    * Structured Streaming runs no micro-batch at all (and so never calls
    * foreachBatch) when a ProcessingTime-trigger stream has no new data,
    * so an in-batch heartbeat goes silent on an idle stream and the lease
    * ages past `lease_stale_ms` while its query is still alive — a second
    * writer could then legitimately reclaim it, recreating exactly the
    * silent two-writer miss the lease exists to prevent. A scheduled task
    * per held lease, started at acquire and cancelled at release, beats
    * at staleMs/3 regardless of data flow. */
  private lazy val scheduler =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-ingest-lease-heartbeat")
      t.setDaemon(true)
      t
    })
  private final class BeatState {
    /** Set right after scheduling; cancelled at release/supersession.
      * cancel(false) lets an already-triggered run finish — which is why
      * every beat re-checks that it is STILL the registered state for its
      * index before acting (a stale final run must neither refresh a
      * released lease nor depose the next, legitimate writer). */
    @volatile var future: java.util.concurrent.ScheduledFuture[_] = null
    /** Liveness probe for the writer this beat fronts (bound to
      * StreamingQuery.isActive after start): a query that stopped WITHOUT
      * release (direct-mode callers whose cleanup registrar discards)
      * must not be kept alive by its own heartbeat forever — the beat
      * releases the lease instead. Default true: between acquire and
      * bind, the writer is the acquiring thread itself. */
    @volatile var isAlive: () => Boolean = () => true
    /** Invoked (outside the lock) when the beat finds the lease names a
      * DIFFERENT holder — a stale-aged lease legitimately reclaimed while
      * this JVM was suspended. The deposed writer must STOP, not merely
      * stop heartbeating: two live writers is the silent-miss scenario. */
    @volatile var onLost: () => Unit = () => ()
    /** The checkpoint identity this beat fronts — lets a release whose FS
      * operations fail still cancel OUR OWN beat (and only our own): an
      * un-cancelled beat would refresh the orphaned lease forever, and a
      * batch lease (isAlive permanently true) would then block every
      * future writer on that resource until the JVM exits. With the beat
      * cancelled, the undeleted file simply ages out per staleMs. */
    @volatile var checkpoint: String = null
  }
  private val beats = scala.collection.mutable.Map[String, BeatState]()

  /** Is a heartbeat task live for this lease? (spec observability) */
  private[graft] def beating(dir: String, fileName: String = IndexLeaseName): Boolean =
    synchronized { beats.contains(leaseFile(dir, fileName)) }

  /** Current lease holder, for observability (index.stats): the lease
    * body flattened to one line, plus heartbeat age in ms. None when the
    * index is free. Read-only — never repairs or ages anything out. */
  def holder(indexPath: String, fileName: String = IndexLeaseName): Option[(String, Long)] = {
    val lf = leaseFile(indexPath, fileName)
    try {
      if (!GraftFs.isFile(lf)) None
      else Some((GraftFs.readString(lf).linesIterator.mkString("; "),
        math.max(0L, System.currentTimeMillis() - GraftFs.mtime(lf))))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Bind the heartbeat for `indexPath` to a real writer lifecycle: the
    * liveness probe and the deposed-holder stop hook. Call after the
    * streaming query starts. */
  def bindLiveness(dir: String, isAlive: () => Boolean, onLost: () => Unit,
      fileName: String = IndexLeaseName): Unit =
    synchronized {
      beats.get(leaseFile(dir, fileName)).foreach { b => b.isAlive = isAlive; b.onLost = onLost }
    }

  /** Acquire the single-writer lease, or fail loud naming the live
    * holder. The claim itself is a create-no-overwrite
    * ([[GraftFs.createExclusive]] — O_EXCL locally, namenode-atomic on
    * HDFS; best-effort check-then-act on object stores, like every
    * S3-style lock), so two simultaneous cold starts cannot both
    * succeed: the loser's create fails, it re-reads, and it throws
    * naming the winner. A stale lease (no heartbeat for `staleMs`)
    * clears the slot and re-claims, as does our own identity restarting
    * — equal checkpoint AND (same-JVM owner or a provably-dead
    * same-machine pid); an equal-checkpoint claim from a DIFFERENT live
    * host waits out staleness like any foreign takeover (see the class
    * doc).
    *
    * NOT synchronized on this object: the claim primitives are FS-atomic
    * (and on object stores include a settle-window sleep), so holding
    * the IngestLease monitor here would stall every lease heartbeat in
    * the JVM for the duration of a contested acquire. Only the beats-map
    * mutations ([[startHeartbeat]]) take the lock. */
  def acquire(indexPath: String, checkpoint: String, queryName: String,
      staleMs: Long, op: String = "stream.ingest",
      fileName: String = IndexLeaseName): Unit = {
    val lf = leaseFile(indexPath, fileName)
    val body = leaseBody(checkpoint, queryName)
    var attempts = 0
    var claimed = GraftFs.createExclusive(lf, body)
    while (!claimed) {
      if (GraftFs.isFile(lf)) {
        val held = GraftFs.readString(lf)
        val ageMs = System.currentTimeMillis() - GraftFs.mtime(lf)
        // the no-wait takeover needs MORE than checkpoint equality: two
        // processes misconfigured onto one checkpoint path are distinct
        // writers, and letting the second depose the first instantly via
        // the rename-aside bypasses the single-writer guarantee. Equal
        // checkpoint reclaims immediately only when the held OWNER is us
        // (same JVM restarting its query) or provably dead on this host
        // (crash restart — the common supervisor case keeps its no-wait
        // path); otherwise a live foreign holder is refused loud whether
        // or not it shares our checkpoint, until staleness.
        val sameIdentity = heldCheckpoint(held) == checkpoint &&
          (heldOwner(held) == identity() || ownerProvablyDead(heldOwner(held)))
        if (!sameIdentity && ageMs < staleMs) {
          val sharedCkpt = if (heldCheckpoint(held) == checkpoint)
            " Both writers name the SAME checkpoint — two processes sharing " +
            "a checkpoint location corrupt Spark streaming state; give each " +
            "its own checkpoint." else ""
          throw new GraftPlanError(
            s"$op: $indexPath is held by another live writer " +
            s"(${held.linesIterator.mkString("; ")}; heartbeat ${ageMs / 1000}s ago) — " +
            "concurrent writers on one resource corrupt silently (duplicate survivors " +
            "past an index, overwritten ingest_batch partitions on an output, colliding " +
            "offsets in a topic log). Stop that writer, or if it crashed, wait out " +
            s"lease_stale_ms (${staleMs / 1000}s) / delete $lf.$sharedCkpt")
        }
        // stale, or our own identity restarting → take the slot over by
        // RENAMING the old lease aside (atomic: exactly one of N racing
        // reclaimers wins the move; a plain delete-then-create would let
        // a second reclaimer's delete remove the first one's freshly won
        // claim, and both would acquire). Losing the move just loops:
        // the winner's fresh lease is read next iteration and refused.
        val aside = lf + ".stale-" + java.util.UUID.randomUUID().toString.take(8)
        if (GraftFs.rename(lf, aside)) GraftFs.deleteIfExists(aside)
      }
      attempts += 1
      if (attempts >= 5)
        throw new GraftPlanError(
          s"$op: lease claim at $lf did not converge after $attempts attempts — " +
          "another writer is racing this start")
      claimed = GraftFs.createExclusive(lf, body)
    }
    startHeartbeat(lf, checkpoint, queryName, staleMs)
  }

  /** Short-lived single-writer lease for BATCH index writers — the
    * success-deferred `index_append` fires, ivf appends, and
    * index.compact's rewrite window. A concurrent batch append during a
    * compact's rewrite is the same silent-miss class the streaming lease
    * enforces (the compact's snapshot never saw the append; the swap
    * deletes it), so both writer kinds share ONE lease file: the stream's
    * lease blocks batch writers and vice versa. Identity is unique per
    * call (no same-identity re-acquire shortcut), the heartbeat covers
    * long rewrites, and release always runs. Streaming-tagged appends
    * skip this — their query already holds the lease. */
  def withBatchLease[T](indexPath: String, op: String,
      fileName: String = IndexLeaseName,
      staleMs: Long = StaleMsDefault)(body: => T): T = {
    val id = s"batch:$op:${java.util.UUID.randomUUID().toString.take(12)}"
    acquire(indexPath, id, op, staleMs, op, fileName)
    // deposed-writer detection for BATCH holders too: if this JVM stalls
    // past staleMs and another writer legitimately reclaims, the beat's
    // liveness court fires onLost — for a streaming query that STOPS the
    // query; a batch body is opaque, so the closest honest contract is to
    // FAIL THE CALL rather than return success for a write the new
    // holder's snapshot may never see (swap-mode renames already fail
    // loud; this covers the plain-append paths).
    val deposed = new java.util.concurrent.atomic.AtomicBoolean(false)
    bindLiveness(indexPath, () => true, () => deposed.set(true), fileName)
    val lf = leaseFile(indexPath, fileName)
    val out = try body finally {
      // the court's onLost hook runs on its own spawned thread, so the
      // flag alone can lag the deposal past this check — detect a reclaim
      // SYNCHRONOUSLY too, before release tears the evidence down: a
      // batch beat (isAlive permanently true) can only vanish before our
      // release via the court's deposal, and a lease body no longer
      // naming us is a reclaim the court simply hasn't observed yet. The
      // body check re-reads after a beat's-write-width pause so a torn
      // read of our own refresh can't masquerade as a foreign holder.
      try {
        def foreignBody(): Boolean = GraftFs.isFile(lf) && {
          val held = GraftFs.readString(lf)
          held.linesIterator.exists(_.startsWith("checkpoint=")) &&
            heldCheckpoint(held) != id
        }
        if (!beating(indexPath, fileName)) deposed.set(true)
        else if (foreignBody() && { Thread.sleep(30); foreignBody() })
          deposed.set(true)
      } catch { case scala.util.control.NonFatal(_) => () }
      release(indexPath, id, fileName)
    }
    if (deposed.get()) throw new GraftPlanError(
      s"$op: the batch writer lease on $indexPath was reclaimed mid-write " +
      "(this process stalled past lease_stale_ms and another writer took " +
      "over) — treat this write as FAILED, but note it may have partially " +
      "or fully landed (and be invisible to the new holder's snapshot): " +
      "VERIFY what is present before re-appending on a non-idempotent " +
      "path, or a retry will double-append")
    out
  }

  private def startHeartbeat(lf: String, checkpoint: String,
      queryName: String, staleMs: Long): Unit = synchronized {
    beats.remove(lf).foreach(_.future.cancel(false))
    // acquire no longer holds the monitor through its FS work, so a final
    // run of a superseded beat (same-JVM re-acquire: old query stopped,
    // new one claiming the same file) can slip its own refresh — or its
    // court's release — in between our createExclusive and this lock.
    // With the old beat now deregistered its self-check fails under this
    // monitor, so reasserting the body HERE is strictly ordered after any
    // such final run: the lease ends up naming us whatever interleaved.
    try GraftFs.writeString(lf, leaseBody(checkpoint, queryName))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] lease body reassert at $lf failed " +
        s"(heartbeat will restore it): ${e.getMessage}") }
    val periodMs = math.max(50L, staleMs / 3)
    val state = new BeatState
    state.checkpoint = checkpoint
    val task: Runnable = () => heartbeat(lf, checkpoint, queryName, state)
    state.future = scheduler.scheduleAtFixedRate(
      task, periodMs, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    beats(lf) = state
  }

  /** Refresh the heartbeat mtime — a plain overwrite, NOT a commit write:
    * the content is constant, so a torn concurrent read can only make a
    * competing acquire refuse (safe), never hand the lease over; skipping
    * the tmp+rename commit dance keeps the beat to one small PUT.
    *
    * The beat is also the lease's LIVENESS COURT: if the bound writer is
    * no longer alive (query stopped without release — direct-mode
    * callers whose cleanup registrar discards), the beat releases the
    * lease instead of keeping a dead writer's claim fresh forever. And
    * if the file no longer names this query (a stale-aged lease was
    * legitimately reclaimed while this JVM was suspended), the deposed
    * writer is STOPPED via its onLost hook — a deposed query that merely
    * stops heartbeating but keeps writing is exactly the two-live-writer
    * scenario the lease exists to prevent. */
  private def heartbeat(lf: String, checkpoint: String, queryName: String,
      self: BeatState): Unit = {
    // decide under the lock; run query-stopping hooks OFF this thread
    val lost: Option[() => Unit] = synchronized {
      try {
        if (!beats.get(lf).exists(_ eq self)) {
          // superseded or released while this run was already triggered
          // (cancel(false) lets a final run finish): acting here would
          // resurrect a released lease or depose the NEXT, legitimate
          // writer — do nothing
          None
        } else if (!self.isAlive()) {
          System.err.println(s"[graft] stream.ingest: writer for $lf is no " +
            "longer active and never released — releasing its lease")
          releaseAt(lf, checkpoint)
          None
        } else if (GraftFs.isFile(lf) && {
            // owner compared too: after a JVM suspension past staleMs, a
            // crash-restart claimer on this host shares our CHECKPOINT but
            // not our pid — checkpoint equality alone would let both
            // writers run (our beat overwriting theirs), the exact
            // two-live-writer miss this court exists to catch
            val held = GraftFs.readString(lf)
            heldCheckpoint(held) != checkpoint || heldOwner(held) != identity()
          }) {
          System.err.println(s"[graft] stream.ingest lease at $lf no longer names " +
            s"this query (reclaimed after a stall?) — stopping the deposed writer")
          beats.remove(lf).foreach(_.future.cancel(false))
          Some(self.onLost)
        } else {
          GraftFs.writeString(lf, leaseBody(checkpoint, queryName))
          None
        }
      } catch { case e: Exception =>
        System.err.println(s"[graft] stream.ingest lease heartbeat failed: ${e.getMessage}")
        None
      }
    }
    // the stop hook can block for a whole micro-batch — run it on its own
    // thread so one slow stop cannot starve every OTHER lease's beat on
    // the shared scheduler (a starved beat ages out and gets reclaimed:
    // one slow stop must not cascade into false deposals)
    lost.foreach { hook =>
      val t = new Thread(() => try hook() catch { case e: Exception =>
        System.err.println(s"[graft] stream.ingest deposed-writer stop failed: ${e.getMessage}") },
        "graft-lease-deposed-stop")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Release only a lease this query identity still holds — a reclaimed
    * (stale) lease now belongs to the new holder and must survive. Always
    * stops the heartbeat task for this index. */
  def release(indexPath: String, checkpoint: String,
      fileName: String = IndexLeaseName): Unit =
    releaseAt(leaseFile(indexPath, fileName), checkpoint)

  private def releaseAt(lf: String, checkpoint: String): Unit = synchronized {
    try {
      // cancel the beat ONLY when this identity actually holds (or the
      // slot is empty): a release of a lease we never acquired — e.g. a
      // failed second start's cleanup — must not disarm the live
      // same-JVM holder's heartbeat and age its lease into reclaim
      val heldCkpt =
        if (!GraftFs.isFile(lf)) None
        else GraftFs.readString(lf).linesIterator
          .find(_.startsWith("checkpoint=")).map(_.stripPrefix("checkpoint="))
      if (heldCkpt.forall(_ == checkpoint)) {
        beats.remove(lf).foreach(_.future.cancel(false))
        if (heldCkpt.isDefined) GraftFs.deleteIfExists(lf)
      }
    } catch { case e: Exception =>
      // a transient FS failure must still disarm OUR OWN heartbeat (beat
      // checkpoint == the releasing identity; foreign releases stay
      // no-ops): an un-cancelled beat keeps the orphaned lease's mtime
      // fresh forever, which for a batch lease (isAlive always true)
      // blocks every future writer with no staleness escape. Cancelled,
      // the undeleted file ages out per staleMs.
      beats.get(lf).filter(_.checkpoint == checkpoint).foreach { b =>
        b.future.cancel(false)
        beats.remove(lf)
      }
      System.err.println(s"[graft] stream.ingest lease release failed: ${e.getMessage}") }
  }

  /** The streaming-sink lease lifecycle, shared by stream.ingest and
    * stream.sketch: claim every (dir, leaseName, op) in order, start the
    * query, bind each claim's heartbeat to the query's liveness, and
    * return (query, releaseAll). On ANY failure — a later claim refused,
    * or the start itself — releases exactly what THIS call claimed, in
    * reverse order, and never touches a lease it did not win (the
    * earlier hand-rolled catch released unconditionally, which disarmed
    * a live same-JVM holder's beat). */
  def withStreamingLeases(claims: Seq[(String, String, String)], checkpoint: String,
      queryName: String, staleMs: Long)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    val acquired = scala.collection.mutable.Buffer[(String, String)]()
    def releaseAcquired(): Unit = acquired.reverseIterator.foreach { case (d, n) =>
      release(d, checkpoint, n) }
    try {
      claims.foreach { case (dir, name, op) =>
        acquire(dir, checkpoint, queryName, staleMs, op, name)
        acquired += ((dir, name))
      }
      val q = start
      claims.foreach { case (dir, name, _) =>
        bindLiveness(dir, () => q.isActive, () => q.stop(), name) }
      (q, () => releaseAcquired())
    } catch { case e: Throwable => releaseAcquired(); throw e }
  }
}

object StreamIngestSink extends Stage {
  val name = "stream.ingest"
  val kind = StageKind.Sink

  /** config keys the sink itself consumes; everything else passes through
    * to the dedup operator */
  private val SinkKeys = Set("path", "checkpoint", "dedup", "trigger", "trigger_ms",
    "timeout_ms", "query_name", "_defer_await", "_explain_only", "lease_stale_ms",
    "batch_aqe")

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val df = ctx.primary
    if (!df.isStreaming)
      throw new GraftPlanError("stream.ingest requires a streaming input " +
        "(kafka.stream / file.stream); for batch ingestion use dedup.* with index_path directly")
    val out = cfg.str("path")
    val indexPath = cfg.str("index_path") // fail loud before the query starts
    val checkpoint = cfg.strOr("checkpoint", s"$out/_checkpoint")
    val (op, kinds): (Stage, IndexCatalog.Expected[IndexKind]) =
      cfg.strOr("dedup", "minhash") match {
        case "minhash"   => (DedupMinHashOp, IndexCatalog.Text(TextSigFamily.MinHash))
        case "exact"     => (DedupExactOp, IndexCatalog.Exact)
        case "ngram"     => (DedupNgramOp, IndexCatalog.Text(TextSigFamily.Ngram))
        case "simhash"   => (DedupSimHashOp, IndexCatalog.Text(TextSigFamily.SimHash))
        case "embedding" => (DedupEmbeddingOp, IndexCatalog.Lsh(DedupEmbeddingOp.Defaults))
        case other => throw new GraftConfigError(s"stream.ingest: unknown dedup '$other'")
      }
    // the index kind resolves before the query starts: a missing index,
    // another kind's index or a conflicting parameter fails loud here, and
    // every micro-batch's probe re-reads the same listing-cached meta.
    // dedup=embedding streams only against the BANDED lsh layout: its
    // (band, pband, ingest_tag) partitioning gives each micro-batch an
    // idempotent dynamic-overwrite append target that probes still prune
    // past; the pigeonhole layout has no per-batch append unit, so a
    // pigeonhole index fails loud here instead of silently rotting
    IndexCatalog.open(ctx, "stream.ingest", indexPath, kinds).kind match {
      case l: LshLayout if !l.streamable => throw new GraftConfigError(
        s"stream.ingest: dedup=embedding needs a bands-partitioned index — rebuild " +
        s"the index at $indexPath with index.build type=lsh blocking=bands")
      case _ =>
    }
    // a previous ingest.compact may have died mid-swap on this output —
    // roll it forward before the stream writes new batch partitions
    graft.operators.IngestMaintenance.recoverSwap(out)
    // checkpoint hash namespaces this query's batch tags in the index
    val tagBase = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(checkpoint.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    }
    val passThrough = cfg.table -- SinkKeys
    val stageId = ctx.stageId
    val queryName = cfg.strOr("query_name", s"graft_${stageId}")

    // single-writer ENFORCEMENT: fail loud before the query starts if
    // another live query holds this index — and the OUTPUT path is
    // single-writer too: micro-batch ids are per-checkpoint, so two
    // queries with different checkpoints sharing one output dir would
    // dynamically overwrite each other's ingest_batch=<id> partitions
    // (silent row loss, not duplicates; the output lease is
    // underscore-named so parquet reads skip it). withStreamingLeases
    // claims both, binds their heartbeats to the query, and on any
    // failure releases exactly what it claimed.
    val staleMs = cfg.longOr("lease_stale_ms", IngestLease.StaleMsDefault)
    if (staleMs < 1) throw new GraftConfigError("stream.ingest: lease_stale_ms must be >= 1")
    val (q, releaseAll) = IngestLease.withStreamingLeases(Seq(
      (indexPath, IngestLease.IndexLeaseName, "stream.ingest"),
      (out, IngestLease.OutLeaseName, "stream.ingest output path")),
      checkpoint, queryName, staleMs) {

    var w = df.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // no heartbeat here — the driver-side scheduled beat (IngestLease)
        // covers live-but-idle streams, which never enter foreachBatch.
        // AQE off inside the micro-batch (the stream's own cloned session
        // — the outer session is untouched): a micro-batch plan is bounded
        // by the trigger size, so AQE's runtime re-planning buys nothing
        // here while splitting every action into per-stage jobs — and job
        // count is the DRIVER-SIDE LATENCY FLOOR of a streaming operator
        // (~0.15 s of fixed scheduler cost each; the r11 GateAudit
        // measured ~42 jobs per dedup=embedding batch, most of them AQE
        // stage-jobs). `batch_aqe = true` opts back in for deployments
        // with skewed micro-batches large enough to want it.
        batch0.sparkSession.conf.set("spark.sql.adaptive.enabled",
          cfg.boolOr("batch_aqe", false).toString)
        // the probe's index-snapshot read passes an explicit part-file
        // list; at >= 32 files Spark re-lists it with a DISTRIBUTED job
        // per micro-batch (parallelPartitionDiscovery.threshold default) —
        // a ~0.15 s scheduler round-trip to stat files the snapshot just
        // listed. Raise the threshold ON THE MICRO-BATCH SESSION CLONE
        // only: under 512 files the driver stats them in-line; a corpus
        // past 512 files still goes distributed (the object-store-scale
        // behavior the default protects).
        batch0.sparkSession.conf.set(
          "spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        // pin the micro-batch ONCE: the per-batch work reads it ~5 times
        // (dedup, signature build, survivors write) and each read re-scans
        // the source files without this — measured as numInputRows = 5× the
        // file rows in the r8 stream probe. Bounded by the trigger size,
        // released in the finally. The pin also counts the rows (rows_in)
        // as it materializes, inside the survivors write.
        val batch = IngestMetrics.observingRows(batch0)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val batchT0 = System.nanoTime()
        // label the per-batch actions (guide §1.5) — descriptions are
        // thread-local to the micro-batch thread, so GateAudit / the UI can
        // attribute each job inside foreachBatch to its action
        val sc = batch0.sparkSession.sparkContext
        def described[T](d: String)(body: => T): T = {
          sc.setJobDescription(s"stream.ingest batch=$batchId: $d")
          try body finally sc.setJobDescription(null)
        }
        val tag = s"sb-$tagBase-$batchId"
        val deferred = scala.collection.mutable.Buffer[() => Unit]()
        val cleanups = scala.collection.mutable.Buffer[() => Unit]()
        try {
          val batchCfg = Cfg(passThrough ++ Map(
            "index_append" -> CBool(cfg.boolOr("index_append", true)),
            "_stream_batch_tag" -> CStr(tag),
            // lets the deferred index append re-read this batch's
            // just-written output partition instead of re-running the
            // probe DAG (see the dedup.embedding read-back)
            "_stream_readback_dir" -> CStr(s"$out/ingest_batch=$batchId")))
          val survivors = described("probe compose")(op(StageContext(batch.sparkSession,
            Seq("batch" -> batch), batchCfg, stageId,
            deferToSuccess = a => { deferred += a; () },
            deferToCleanup = a => { cleanups += a; () })))
          // an empty micro-batch writes no partition here (no rows, no
          // partition dir) and stops: no index append, no metrics file.
          // No emptiness job runs first — the write reads every pinned row,
          // which is what counts them.
          described("survivors write")(RowGuard.raising(
            survivors.withColumn("ingest_batch", F.lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch").parquet(out)))
          val rowsIn = IngestMetrics.observedRows(batch)
          if (rowsIn > 0) {
            // the index grows only after the survivors are durably in the
            // output — the same commit ordering as the batch pipelines'
            // success-deferred append
            described("index append")(deferred.foreach(_()))
            // per-batch metrics (see IngestMetrics): survivors from the
            // just-written partition's parquet footers — driver-side,
            // no job, no probe re-run. Surfaced by ingest.stats.
            IngestMetrics.write(out, batchId, rowsIn,
              IngestMetrics.landedRows(s"$out/ingest_batch=$batchId"), batchT0)
          }
        } finally {
          cleanups.foreach(c => try c() catch { case e: Exception =>
            System.err.println(s"[graft] stream.ingest cleanup failed: ${e.getMessage}") })
          batch.unpersist()
        }
      }
    cfg.strOpt("trigger") match {
      case Some("available_now") => w = w.trigger(Trigger.AvailableNow())
      case Some(other) => throw new GraftConfigError(
        s"stream.ingest: unknown trigger '$other' (use 'available_now' or trigger_ms)")
      case None =>
        cfg.longOpt("trigger_ms").foreach(ms => w = w.trigger(Trigger.ProcessingTime(ms)))
    }
    w.start()
    }
    // pipeline mode (_defer_await): DagCompiler awaits the query, then
    // drains cleanups — release there. Direct mode releases in the await
    // paths below; for direct _defer_await callers (whose cleanup
    // registrar discards) the bound liveness probes release once the
    // query stops.
    ctx.deferToCleanup(() => releaseAll())
    if (!cfg.boolOr("_defer_await", false)) {
      try {
        cfg.longOpt("timeout_ms") match {
          case Some(ms) => q.awaitTermination(ms); q.stop()
          case None     => q.awaitTermination()
        }
      } finally releaseAll()
    }
    df
  }
}

/** stream.sketch — running corpus audits over a stream: each micro-batch
  * is sketched ONCE by `topk.approx output = "summary"` (Misra-Gries,
  * mergeable — Agarwal PODS'12) and the summary rows land under `path`
  * partitioned by `ingest_batch`; `topk.merge` over that directory (any
  * time, any engine instance) yields the running top-k without ever
  * rescanning old batches — the streaming completion of the
  * sketch-once/merge-forever path. In the exact regime, merged-streaming
  * equals the one-pass batch top-k (StreamingSpec pins it).
  *
  * Exactly-once like stream.ingest: a replayed micro-batch OVERWRITES its
  * own `ingest_batch=<id>` partition (dynamic partitionOverwriteMode), so
  * retries re-land identical summary rows instead of double-counting.
  * topk.merge treats `ingest_batch` as provenance, never as a group key.
  *
  * Config: `path` (summary parquet root), `checkpoint` (default
  * `<path>/_checkpoint`), `trigger` = "available_now" | `trigger_ms`,
  * `timeout_ms`, plus topk.approx's keys passed through (`column`,
  * `tokenize`, `capacity`, `group_by`, …).
  *
  * 100 TB shape: the raw stream never shuffles (per-partition sketches),
  * each micro-batch persists ≤ partitions × groups × (capacity+1) narrow
  * rows, and the corpus-lifetime audit is a merge over megabytes.
  */
object StreamSketchSink extends Stage {
  val name = "stream.sketch"
  val kind = StageKind.Sink

  private val SinkKeys = Set("path", "checkpoint", "trigger", "trigger_ms",
    "timeout_ms", "query_name", "_defer_await", "_explain_only", "lease_stale_ms",
    "batch_aqe")

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val df = ctx.primary
    if (!df.isStreaming)
      throw new GraftPlanError("stream.sketch requires a streaming input; " +
        "for batch corpora run topk.approx output=\"summary\" directly")
    val out = cfg.str("path")
    val checkpoint = cfg.strOr("checkpoint", s"$out/_checkpoint")
    val passThrough = Cfg((cfg.table -- SinkKeys) +
      ("output" -> CStr("summary")))
    // fail loud on bad topk config BEFORE the query starts: dry-plan the
    // sketch against an empty frame with the stream's schema
    TopKOp(StageContext(ctx.spark, Seq("probe" -> ctx.spark.createDataFrame(
      ctx.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)),
      Cfg(passThrough.table + ("_explain_only" -> CBool(true))), ctx.stageId))
    val stageId = ctx.stageId
    val queryName = cfg.strOr("query_name", s"graft_${stageId}")

    // output path is single-writer, same as stream.ingest's: micro-batch
    // ids are per-checkpoint, so two queries with different checkpoints
    // sharing one summary dir would overwrite each other's
    // ingest_batch=<id> partitions — silent summary loss
    val staleMs = cfg.longOr("lease_stale_ms", IngestLease.StaleMsDefault)
    if (staleMs < 1) throw new GraftConfigError("stream.sketch: lease_stale_ms must be >= 1")
    val (q, releaseAll) = IngestLease.withStreamingLeases(Seq(
      (out, IngestLease.OutLeaseName, "stream.sketch output path")),
      checkpoint, queryName, staleMs) {

    var w = df.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // UNLIKE stream.ingest, AQE stays ON here by default: the sketch
        // batch is a single small aggregation (~5 jobs — never the 42-job
        // problem the ingest path had), and AQE's post-shuffle coalescing
        // is what keeps the per-batch summary write at one file instead of
        // shuffle-partition-many (the r12 A/B measured the AQE-off variant
        // +24% on stream_sketch_parity from exactly that small-files
        // growth). `batch_aqe = false` opts out.
        batch0.sparkSession.conf.set("spark.sql.adaptive.enabled",
          cfg.boolOr("batch_aqe", true).toString)
        // pin once — the emptiness check and the sketch pass would each
        // re-scan the source files otherwise (see stream.ingest)
        val batch = batch0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val batchT0 = System.nanoTime()
        try {
          // count doubles as the rows_in metric — see stream.ingest
          val rowsIn = batch.count()
          if (rowsIn > 0) {
            val cleanups = scala.collection.mutable.Buffer[() => Unit]()
            try {
              val summary = TopKOp(StageContext(batch.sparkSession,
                Seq("batch" -> batch), passThrough, stageId,
                deferToCleanup = a => { cleanups += a; () }))
              summary.withColumn("ingest_batch", F.lit(batchId))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch").parquet(out)
              // per-batch metrics: "survivors" = summary rows landed
              IngestMetrics.write(out, batchId, rowsIn,
                IngestMetrics.landedRows(s"$out/ingest_batch=$batchId"), batchT0)
            } finally cleanups.foreach(c => try c() catch { case e: Exception =>
              System.err.println(s"[graft] stream.sketch cleanup failed: ${e.getMessage}") })
          }
        } finally batch.unpersist()
      }
    cfg.strOpt("trigger") match {
      case Some("available_now") => w = w.trigger(Trigger.AvailableNow())
      case Some(other) => throw new GraftConfigError(
        s"stream.sketch: unknown trigger '$other' (use 'available_now' or trigger_ms)")
      case None =>
        cfg.longOpt("trigger_ms").foreach(ms => w = w.trigger(Trigger.ProcessingTime(ms)))
    }
    w.start()
    }
    ctx.deferToCleanup(() => releaseAll())
    if (!cfg.boolOr("_defer_await", false)) {
      try {
        cfg.longOpt("timeout_ms") match {
          case Some(ms) => q.awaitTermination(ms); q.stop()
          case None     => q.awaitTermination()
        }
      } finally releaseAll()
    }
    df
  }
}
