package graft

import graft.config.{Cfg, GraftConfigError}
import graft.core.{GraftFs, GraftPlanError, StageContext}
import graft.operators.{DedupExactOp, IndexBuildOp, IndexCompactOp, IndexStatsOp,
  IngestCompactOp, KafkaCompactOp, KafkaProduceSink}

/** A RawLocalFileSystem masquerading as an object store: scheme `mocks3`
  * is NOT in GraftFs' atomic-rename set, so every `auto` layout branch and
  * every atomic-rename guard takes its object-store path — while the bytes
  * land on local disk where a spec can drive a full lifecycle. This is the
  * end-to-end evidence for the S3-class story that GraftFsSpec only
  * string-tests: the generation-pointer commit actually installs, probes
  * read through it, and the two verbs whose protocols CANNOT be ported
  * fail loud naming the scheme. */
class MockS3FileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getScheme: String = "mocks3"
  override def getUri: java.net.URI = java.net.URI.create("mocks3:///")

  // RawLocal statuses load permissions LAZILY via `new java.io.File(uri)`,
  // which rejects any scheme but "file" — materialize them eagerly so
  // mocks3-qualified statuses survive listFiles/LocatedFileStatus
  private def eager(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      org.apache.hadoop.fs.permission.FsPermission.getDefault, "graft", "graft",
      s.getPath)
  override def getFileStatus(f: Path): FileStatus = eager(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(eager)

  // S3 PUTs are ATOMIC whole-object installs: an object is invisible until
  // its PUT completes and never shows a torn body — last writer wins the
  // WHOLE object. RawLocal streams bytes in place, which under racing
  // claim PUTs produced interleaved lease bodies (LeaseClaimSpec flaked
  // with "racer"+tail-of-"original" under suite load — an artifact no
  // real object store can produce). Buffer the bytes and install them in
  // one local atomic move at close; the ".put*" temp is dot-prefixed so
  // segment/part listings never see it.
  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (!overwrite && exists(f))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
    val local = pathToFile(f).toPath
    java.nio.file.Files.createDirectories(local.getParent)
    val buf = new java.io.ByteArrayOutputStream()
    val installing = new java.io.FilterOutputStream(buf) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit = {
        super.close()
        val tmp = java.nio.file.Files.createTempFile(local.getParent, ".put", ".tmp")
        java.nio.file.Files.write(tmp, buf.toByteArray)
        java.nio.file.Files.move(tmp, local,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
    new org.apache.hadoop.fs.FSDataOutputStream(installing, null)
  }
}

class ObjectStoreSpec extends SparkSpec {
  import spark.implicits._

  private def registerMockFs(): Unit = {
    val impl = classOf[MockS3FileSystem].getName
    // Spark's own readers/writers resolve through the context conf...
    spark.sparkContext.hadoopConfiguration.set("fs.mocks3.impl", impl)
    // ...and GraftFs caches its Configuration per session — set both
    GraftFs.hadoopConf.set("fs.mocks3.impl", impl)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("index lifecycle on a non-atomic scheme: auto compact takes the generation-pointer commit") {
    registerMockFs()
    val idx = s"mocks3:${tmp("mocks3_idx")}/exact"
    assert(!GraftFs.renameIsAtomic(idx), "mocks3 must read as a copy-rename store")
    val docs = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    IndexBuildOp(StageContext.one(spark, docs, Cfg.of(
      "type" -> "exact", "path" -> idx, "columns" -> Seq("text"))))
    // probe + append through the mock scheme
    val s1 = DedupExactOp(StageContext.one(spark,
      Seq((10L, "alpha"), (11L, "delta")).toDF("doc_id", "text"),
      Cfg.of("columns" -> Seq("text"), "index_path" -> idx, "index_append" -> true)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 === Seq(11L))
    // the retired layout option is rejected, not silently ignored
    val eLayout = intercept[GraftConfigError](IndexCompactOp(StageContext.one(spark, docs,
      Cfg.of("path" -> idx, "layout" -> "swap"))))
    assert(eLayout.getMessage.contains("corpus.ptr"))
    // compact commits through the pointer file, which needs no atomic rename
    IndexCompactOp(StageContext.one(spark, docs, Cfg.of("path" -> idx)))
    assert(GraftFs.isFile(s"$idx/corpus.ptr"), "committed through the pointer file")
    val gen = GraftFs.readString(s"$idx/corpus.ptr").trim
    assert(gen.startsWith("corpus-"))
    assert(GraftFs.isDir(s"$idx/$gen"), "pointer names an installed generation")
    assert(!GraftFs.isDir(s"$idx/corpus"), "classic corpus dir retired")
    // probes and stats read through the pointer unchanged
    val s2 = DedupExactOp(StageContext.one(spark,
      Seq((20L, "delta"), (21L, "epsilon")).toDF("doc_id", "text"),
      Cfg.of("columns" -> Seq("text"), "index_path" -> idx)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2 === Seq(21L), "appended key visible, probe identical post-compact")
    val stats = IndexStatsOp(StageContext.one(spark, docs, Cfg.of("path" -> idx)))
      .select("rows", "files").as[(Long, Long)].head()
    assert(stats._1 === 4L)
    assert(stats._2 === 1L)
    // a second compact re-generations through the pointer (no classic dir
    // to fall back to) and GCs nothing it still references
    DedupExactOp(StageContext.one(spark,
      Seq((30L, "zeta")).toDF("doc_id", "text"),
      Cfg.of("columns" -> Seq("text"), "index_path" -> idx, "index_append" -> true)))
    IndexCompactOp(StageContext.one(spark, docs, Cfg.of("path" -> idx)))
    val gen2 = GraftFs.readString(s"$idx/corpus.ptr").trim
    assert(gen2 !== gen, "second compact installed a fresh generation")
    assert(!GraftFs.isDir(s"$idx/$gen"), "retired generation collected")
    val s3 = DedupExactOp(StageContext.one(spark,
      Seq((40L, "zeta"), (41L, "eta")).toDF("doc_id", "text"),
      Cfg.of("columns" -> Seq("text"), "index_path" -> idx)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s3 === Seq(41L))
  }

  test("ingest.compact and kafka.compact refuse the non-atomic scheme, naming it") {
    registerMockFs()
    val root = s"mocks3:${tmp("mocks3_guard")}"
    val df = Seq(("a", 1L)).toDF("name", "v")
    val e1 = intercept[GraftPlanError](IngestCompactOp(StageContext.one(spark, df,
      Cfg.of("path" -> s"$root/out"))))
    assert(e1.getMessage.contains("mocks3"))
    assert(e1.getMessage.contains("atomic"))
    // kafka: the produce side works on any store (segment PUTs + offset
    // commits, no directory swap) — only compact's swap protocol refuses
    KafkaProduceSink(StageContext.one(spark, df, Cfg.of(
      "path" -> s"$root/log", "topic" -> "t", "key_field" -> "name")))
    val e2 = intercept[GraftPlanError](KafkaCompactOp(StageContext(spark, Seq.empty,
      Cfg.of("path" -> s"$root/log", "topic" -> "t"), "kc")))
    assert(e2.getMessage.contains("mocks3"))
    assert(e2.getMessage.contains("atomic"))
  }
}
