package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The single filesystem seam for every index / ingest-output / kafka-log
  * path the engine touches imperatively (existence checks, directory
  * listings, crash-swap renames, manifest commits). All of it goes through
  * `org.apache.hadoop.fs.FileSystem`, so an index root can be
  * `file:/...`, `hdfs://nn/...`, or `s3a://bucket/...` — the same
  * resolution path Spark's own readers/writers use. Driver-side only:
  * every caller runs at plan-compose / maintenance time, never inside a
  * task, so there is no serialization or per-row cost.
  *
  * Local bare paths (`/tmp/idx`, `target/idx`) resolve through the
  * default FS exactly as before — the Hadoop local `FileSystem` wraps
  * `java.io.File` — so nothing observable changes for single-box runs;
  * the seam's point is that cluster stores resolve at all.
  *
  * RENAME SEMANTICS — the load-bearing design point. The two crash-swap
  * protocols (the hold-aside/install moves of IngestMaintenance's manifest
  * protocol, and kafka.compact's per-partition swap) assume a directory
  * rename is ATOMIC and O(1): a crashed move leaves the directory wholly
  * at the source or wholly at the destination, never a partial copy. That holds on file:, hdfs:, viewfs: and the rename-capable
  * Azure stores — but NOT on S3-style object stores, where "rename" is an
  * object-by-object copy + delete: a crash mid-move leaves BOTH a partial
  * destination and a partial source, states the repair logic would
  * misread as committed generations. Rather than corrupt quietly,
  * [[requireAtomicRename]] guards every swap entry point and fails loud on
  * such schemes, with the alternative spelled out (see
  * docs/DESIGN_NOTES.md "Object-store commit semantics"). Plain manifest
  * COMMITS (one small-file PUT) are atomic everywhere and are not guarded.
  */
object GraftFs {
  /** Hadoop conf from the active Spark session when there is one (so
    * `--conf spark.hadoop.*` fs settings like S3 credentials apply), else
    * a default conf — same resolution as Spark's own data paths.
    *
    * CACHED per session instance: `newHadoopConf()` copies the entire
    * Spark conf into a fresh Configuration on every call (~ms), and path
    * helpers like [[relativize]] run inside per-file listing loops — the
    * uncached version measurably regressed every index-lifecycle gate
    * (index_compact_parity 5.8 → 11.2 s in the r8 bench before this).
    * The conf is treated as read-only after construction. */
  @volatile private var cachedConf: (AnyRef, Configuration) = null
  def hadoopConf: Configuration = {
    val session = SparkSession.getActiveSession.orNull
    val c = cachedConf
    if (c != null && (c._1 eq session)) c._2
    else {
      val conf =
        if (session != null) session.sessionState.newHadoopConf()
        else new Configuration()
      cachedConf = (session, conf)
      conf
    }
  }

  def path(s: String): Path = new Path(s)

  def fs(s: String): FileSystem = path(s).getFileSystem(hadoopConf)

  /** Fully-qualified form (scheme + authority resolved against the
    * default FS) — the canonical identity of a path for claim keys and
    * for `basePath` options that must match listed file paths. Last
    * result memoized: listing loops qualify one constant base repeatedly
    * (each raw call pays an FS-cache + UGI lookup). */
  @volatile private var lastQualified: (String, String) = null
  def qualified(s: String): String = {
    val c = lastQualified
    if (c != null && c._1 == s) c._2
    else {
      val p = path(s)
      val q = p.getFileSystem(hadoopConf).makeQualified(p).toString
      lastQualified = (s, q)
      q
    }
  }

  def isDir(s: String): Boolean = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    try f.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  }

  def isFile(s: String): Boolean = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    try f.getFileStatus(p).isFile
    catch { case _: java.io.FileNotFoundException => false }
  }

  def exists(s: String): Boolean = {
    val p = path(s)
    p.getFileSystem(hadoopConf).exists(p)
  }

  def mkdirs(s: String): Unit = {
    val p = path(s)
    p.getFileSystem(hadoopConf).mkdirs(p)
  }

  /** Recursive delete; no-op when the path is absent. */
  def deleteRec(s: String): Unit = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    if (f.exists(p)) f.delete(p, true)
  }

  def deleteIfExists(s: String): Unit = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    if (f.exists(p)) f.delete(p, false)
  }

  def len(s: String): Long = {
    val p = path(s)
    p.getFileSystem(hadoopConf).getFileStatus(p).getLen
  }

  def mtime(s: String): Long = {
    val p = path(s)
    p.getFileSystem(hadoopConf).getFileStatus(p).getModificationTime
  }

  /** Rename src → dst. Returns false when the FS reports a lost race
    * (source vanished / destination appeared) instead of throwing — the
    * swap-repair retry loops re-stat and converge on the winner, mirroring
    * what they previously did by catching nio's typed exceptions.
    *
    * DELIVERING that contract takes work Hadoop doesn't do: where nio's
    * `Files.move` throws `FileAlreadyExistsException` on an existing
    * destination, `FileSystem.rename` moves src INTO an existing
    * destination DIRECTORY (as `dst/<srcName>`) and returns TRUE — in the
    * concurrent crash-swap repair race that would nest the losing
    * reader's generation inside the winner's installed corpus, and
    * recursive listings would then silently serve duplicate rows. So:
    * (1) an existing destination is checked up front (the deterministic
    * stale-destination case — also covers POSIX rename(2) silently
    * replacing an existing destination FILE), and (2) after a true
    * return, `dst/<srcName>` appearing means the destination materialized
    * inside the race window and Hadoop nested the move — undo it and
    * report the lost race. The undo test is sound because every caller
    * moves a tree that never contains a child named after itself
    * (partition=N, ingest_batch=N hold names). */
  def rename(src: String, dst: String): Boolean = {
    val sp = path(src)
    val dp = path(dst)
    val f = sp.getFileSystem(hadoopConf)
    if (f.exists(dp)) return false
    val ok =
      try f.rename(sp, dp)
      catch {
        case _: java.io.FileNotFoundException => false
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      }
    if (!ok) return false
    val nested = new Path(dp, sp.getName)
    if (!f.exists(nested)) true
    else {
      if (!f.rename(nested, sp))
        throw new java.io.IOException(
          s"rename $src -> $dst lost a race (destination appeared and the move " +
          s"nested into it as $nested) and the un-nesting rename failed — " +
          "resolve the nesting by hand before re-running")
      false
    }
  }

  /** Schemes whose FileSystem.rename is an atomic metadata operation —
    * the property the crash-swap protocols are derived from. Object-store
    * connectors (s3/s3a/s3n, gs, oss, cos, swift) emulate rename by
    * copy+delete and are NOT here. */
  private val atomicRenameSchemes =
    Set("file", "hdfs", "viewfs", "wasb", "wasbs", "abfs", "abfss", "o3fs", "ofs")

  /** Scheme of a path string without instantiating its FileSystem (an
    * unknown scheme must still reach the guard's message, not die on
    * connector lookup); bare paths take the default FS scheme. */
  private def schemeOf(s: String): String =
    Option(path(s).toUri.getScheme)
      .orElse(Option(FileSystem.getDefaultUri(hadoopConf).getScheme))
      .getOrElse("file")

  def renameIsAtomic(s: String): Boolean =
    atomicRenameSchemes.contains(schemeOf(s).toLowerCase)

  /** Guard for every rename-based swap protocol entry point: on stores
    * without atomic rename the protocol's crash states are unrepairable
    * (partial copies read as committed generations), so fail loud with
    * the documented alternative instead of corrupting quietly. */
  def requireAtomicRename(s: String, op: String): Unit =
    if (!renameIsAtomic(s)) {
      val scheme = schemeOf(s)
      throw new GraftPlanError(
        s"$op: the store at '$s' (scheme '$scheme') has no atomic directory rename — " +
        "the crash-safe swap protocol cannot commit there (a crashed copy-based " +
        "rename leaves partial generations the repair would misread). Keep ingest " +
        "output and kafka log roots on file:/hdfs:/abfs:-class storage; see " +
        "docs/DESIGN_NOTES.md 'Object-store commit semantics'")
    }

  /** Child entry names (not paths) of a directory; empty when absent. */
  def listNames(s: String): Vector[String] = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    if (!f.exists(p)) Vector.empty
    else f.listStatus(p).map(_.getPath.getName).toVector
  }

  /** Child directory names of a directory; empty when absent. */
  def listDirNames(s: String): Vector[String] = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    if (!f.exists(p)) Vector.empty
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toVector
  }

  /** All regular files under `s`, recursively, as (fully-qualified path,
    * length) pairs. On HDFS one namenode-side recursive iterator, on S3A
    * a flat LIST — instead of per-directory round trips.
    *
    * LOCAL FAST PATH: Hadoop's `listFiles(recursive)` on the local FS
    * materializes a LocatedFileStatus per file, and WITHOUT the native
    * hadoop library that loads permissions by forking `ls -ld` PER FILE —
    * measured at ~4.7 ms/file (4.8 s for a 1024-file lsh corpus) vs
    * ~6 ms TOTAL for a java.nio walk. Every index-probe snapshot lists
    * through here, so the `file:` scheme walks nio and renders paths in
    * Hadoop's qualified form (`<qualified base>/<rel>`), byte-identical
    * to what the Hadoop listing would return. */
  def listFilesRec(s: String): Vector[(String, Long)] = {
    val q = qualified(s)
    if (q.startsWith("file:")) {
      val basePath = java.nio.file.Paths.get(q.stripPrefix("file:"))
      if (!java.nio.file.Files.isDirectory(basePath)) Vector.empty
      else {
        val stream = java.nio.file.Files.walk(basePath)
        try {
          val buf = Vector.newBuilder[(String, Long)]
          val it = stream.iterator()
          while (it.hasNext) {
            val f = it.next()
            val name = f.getFileName.toString
            // the Hadoop local FS is a ChecksumFileSystem: its listing
            // hides the ".<name>.crc" shadow files its writes create —
            // match that exactly or round-trips see phantom entries
            if (java.nio.file.Files.isRegularFile(f) &&
                !(name.startsWith(".") && name.endsWith(".crc")))
              buf += ((q + "/" + basePath.relativize(f).toString,
                java.nio.file.Files.size(f)))
          }
          buf.result()
        } finally stream.close()
      }
    } else {
      val p = path(s)
      val f = p.getFileSystem(hadoopConf)
      if (!f.exists(p)) Vector.empty
      else {
        val it = f.listFiles(p, true)
        val buf = Vector.newBuilder[(String, Long)]
        while (it.hasNext) { val st = it.next(); buf += ((st.getPath.toString, st.getLen)) }
        buf.result()
      }
    }
  }

  /** `child` relative to directory `base`, as `/`-separated segments —
    * both are qualified first so listed (qualified) file paths relativize
    * against caller-supplied (possibly bare) roots. */
  def relativize(base: String, child: String): String = {
    val b = qualified(base).stripSuffix("/")
    // fast path: listed children come back fully qualified already — a
    // plain prefix match avoids a second qualification per file
    if (child.startsWith(b + "/")) child.substring(b.length + 1)
    else {
      val c = qualified(child)
      if (c == b) ""
      else if (c.startsWith(b + "/")) c.substring(b.length + 1)
      else throw new IllegalArgumentException(s"'$child' is not under '$base'")
    }
  }

  def readString(s: String): String = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** First line of a (possibly large) text file without reading the rest —
    * the kafka segment-pruning probe. None for an empty file. */
  def readFirstLine(s: String): Option[String] = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    val in = f.open(p)
    try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      Option(r.readLine())
    } finally in.close()
  }

  /** The non-checksummed twin of a local FileSystem — every GraftFs-owned
    * small STRING file (leases, pointers, manifests, offsets) is written
    * through it. ChecksumFileSystem writes a `.f.crc` shadow beside every
    * file and renames data and crc as TWO separate renames, so a reader
    * concurrent with a rename-commit can pair the new data with the old
    * crc and die with ChecksumException — measured as the MAJORITY of
    * reads under a commit storm (CommitRaceSpec), not a narrow window.
    * Raw writes create no shadow; readers verify nothing when no crc
    * exists; the rename(2) swap becomes the only visible transition.
    * Spark-written data files keep their checksums — this applies only
    * to GraftFs's own string files. */
  private def rawFs(f: FileSystem): FileSystem = f match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Remove a stale checksum shadow left by an OLD (checksummed) writer
    * of `p` — without this, the first raw rewrite of a pre-existing file
    * would leave a crc that fails every subsequent read. */
  private def dropStaleCrc(f: FileSystem, p: Path): Unit = f match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem =>
      val crc = c.getChecksumFile(p)
      val raw = c.getRawFileSystem
      if (raw.exists(crc)) raw.delete(crc, false)
    case _ => ()
  }

  /** Plain overwrite write (create(overwrite = true)) — for files whose
    * content is idempotent to rewrite (tmp stages of committed protocols,
    * stats caches, lease heartbeats). Not atomic w.r.t. concurrent
    * readers; use [[writeStringCommit]] where the write IS a commit
    * point. Raw (checksum-free) on local — see [[rawFs]]. */
  def writeString(s: String, content: String): Unit = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    dropStaleCrc(f, p)
    val out = rawFs(f).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Overwrite-create output stream through the FS seam — for sinks that
    * stream structured bytes (the excel zip container) to a
    * scheme-qualified destination. Caller closes. */
  def createStream(s: String): java.io.OutputStream = {
    val p = path(s)
    p.getFileSystem(hadoopConf).create(p, true)
  }

  /** Write-then-rename small-file commit: readers see the old content or
    * the new, never a torn write. On object stores a single-object PUT is
    * already atomic, so the guard does not apply here — this is the
    * commit primitive that works EVERYWHERE, which is why the manifest
    * protocols commit through it rather than through directory renames.
    *
    * The install renames OVER the existing destination without a prior
    * delete — critical for files whose EXISTENCE is load-bearing: a crash
    * inside a delete-then-rename window would leave `corpus.ptr` absent
    * (readers fall back to a corpus dir a prior compact deleted) or a
    * kafka `_consumer_offsets` file absent (a concurrent `committed()`
    * reads Map.empty and replays from earliest). On POSIX local stores a
    * plain rename(2) already replaces an existing file atomically; where
    * the FileSystem refuses an existing destination (HDFS), the
    * FileContext `Options.Rename.OVERWRITE` path is the namenode-atomic
    * equivalent; only if neither applies does the old delete-then-rename
    * run as a last resort. */
  def writeStringCommit(s: String, content: String): Unit = {
    val p = path(s)
    val f = p.getFileSystem(hadoopConf)
    if (!renameIsAtomic(s)) {
      // object store: one PUT is atomic; a tmp+copy-rename would be weaker
      writeString(s, content)
    } else {
      val tmp = new Path(p.getParent,
        "." + p.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
      // raw create + raw rename: on a ChecksumFileSystem the tmp write
      // must not mint a crc shadow, and the install must be ONE data
      // rename — a checksummed rename is two (data, then crc), whose
      // in-between state fails concurrent readers (see rawFs)
      val rf = rawFs(f)
      val out = rf.create(tmp, true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      dropStaleCrc(f, p)
      // NOTE: rename deliberately raw here (not GraftFs.rename) — this is
      // the one caller that WANTS replace-existing semantics.
      val plain = try rf.rename(tmp, p) catch { case _: java.io.IOException => false }
      if (!plain) {
        val overwritten =
          try {
            org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, hadoopConf)
              .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
            true
          } catch { case scala.util.control.NonFatal(_) => false }
        if (!overwritten) {
          // last resort (FS with neither replace-on-rename nor a
          // FileContext binding): the old delete-then-rename, with its
          // small absent-destination window and the race convergence check
          if (f.exists(p)) f.delete(p, false)
          if (!f.rename(tmp, p)) {
            f.delete(tmp, false)
            if (!f.exists(p))
              throw new java.io.IOException(s"commit rename to $s lost a race and no winner is visible")
          }
        }
      }
    }
  }

  /** Atomically create-and-claim a file that must not already exist — the
    * lease-claim primitive. Returns true iff THIS call created the file;
    * false when it already existed (or appeared concurrently). Local
    * paths go through nio `CREATE_NEW` (a real O_EXCL — Hadoop's local
    * `create(overwrite = false)` is only a check-then-act); HDFS's create
    * is namenode-atomic. Object-store creates are check-then-act at the
    * store level — callers on such stores get best-effort mutual
    * exclusion, same as every S3-based lock. */
  def createExclusive(s: String, content: String): Boolean = {
    val q = qualified(s)
    if (q.startsWith("file:")) {
      val nioPath = java.nio.file.Paths.get(q.stripPrefix("file:"))
      if (nioPath.getParent != null) java.nio.file.Files.createDirectories(nioPath.getParent)
      // a hand-deleted claim file can leave its Hadoop checksum shadow
      // behind; the nio create below writes no crc, so a stale one would
      // fail every subsequent Hadoop read of the claimed file
      if (!java.nio.file.Files.exists(nioPath) && nioPath.getParent != null)
        java.nio.file.Files.deleteIfExists(
          nioPath.getParent.resolve("." + nioPath.getFileName.toString + ".crc"))
      try {
        java.nio.file.Files.write(nioPath,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      val p = path(s)
      val f = p.getFileSystem(hadoopConf)
      val created =
        try {
          if (!f.exists(p)) dropStaleCrc(f, p)
          val out = rawFs(f).create(p, false)
          try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException if e.getMessage != null &&
            e.getMessage.contains("already exists") =>
            // the message sniff alone is too wide — an unrelated failure
            // mentioning "already exists" (a parent-path error, a nested
            // cause's text) must surface as a fault, not masquerade as
            // "another writer holds the lease": only a target that REALLY
            // exists is a lost claim
            if (f.exists(p)) false else throw e
        }
      if (!created) false
      else if (renameIsAtomic(s)) true // hdfs-class: create(overwrite=false) is namenode-atomic
      else {
        // object stores have no exclusive create — their create is a
        // check-then-act over last-writer-wins PUTs, so two racers can
        // BOTH reach here. Emulate a conditional put the way S3 locks
        // did before If-None-Match: read back, wait out a settle window
        // longer than any racer's in-flight PUT, read back again — a
        // claimant wins only if the object still holds ITS body after
        // the dust settles. Racers whose PUTs interleave within the
        // window all observe the final overwrite and lose (or ALL lose
        // on a torn body and the caller's retry loop fails loud), so at
        // most one claim is ever STABLE. Lease bodies are unique per
        // claimant (checkpoint/owner/nonce), which is what makes the
        // read-back discriminating. Claim latency above the window
        // (extreme stall) degrades back to best-effort — the lease
        // heartbeat's liveness court is the backstop for that tail.
        def stillOurs(): Boolean =
          try readString(s) == content catch { case _: java.io.IOException => false }
        val stable = stillOurs() && { Thread.sleep(claimSettleMs); stillOurs() }
        // demotions are the observable symptom of a settle window smaller
        // than a racer's in-flight PUT — log them so window-too-small
        // incidents show up in driver logs instead of as mystery claim
        // losses (the caller sees only `false`)
        if (!stable) System.err.println(
          s"[graft] object-store claim at $s demoted during the " +
          s"${claimSettleMs}ms settle window (a racer's PUT overwrote it); " +
          "repeated demotions under low contention suggest the window is " +
          "too small for this store's PUT latency")
        stable
      }
    }
  }

  /** Settle window for the object-store claim verification — overridable
    * for specs racing the emulation (production default 100 ms comfortably
    * covers a small PUT's in-flight time on any real store). */
  @volatile private[graft] var claimSettleMs: Long = 100L
}
