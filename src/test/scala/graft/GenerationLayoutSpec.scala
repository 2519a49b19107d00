package graft

import org.apache.spark.sql.{functions => F}
import graft.config.{Cfg, GraftConfigError}
import graft.core.GraftFs
import graft.core.StageContext
import graft.operators.{DedupMinHashOp, IndexBuildOp, IndexCompactOp, IndexSnapshot,
  IndexStatsOp}

/** The generation-pointer commit of index.compact, on every store: the
  * rewrite lands in a fresh `corpus-NNNNNN` dir and commits by replacing
  * `corpus.ptr` — a single small-file write, atomic even on stores without
  * atomic rename. Every reader/append resolves the active corpus through
  * IndexSnapshot.corpusDir, so the pointer switch is all-or-nothing. */
class GenerationLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"),
    (3L, "red orange yellow green blue indigo violet pink brown black")
  ).toDF("doc_id", "text")

  private def build(path: String): Unit =
    IndexBuildOp(StageContext.one(spark, corpus, Cfg.of(
      "type" -> "minhash", "path" -> path, "id_column" -> "doc_id",
      "text_column" -> "text", "shingle_size" -> 3, "num_hashes" -> 64,
      "bands" -> 16, "seed" -> 7)))

  private def append(path: String, id: Long, text: String): Unit =
    DedupMinHashOp(StageContext.one(spark, Seq((id, text)).toDF("doc_id", "text"),
      Cfg.of("id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> path, "index_append" -> true))).count()

  private def probe(path: String, batch: Seq[(Long, String)]): Seq[Long] =
    DedupMinHashOp(StageContext.one(spark, batch.toDF("doc_id", "text"),
      Cfg.of("id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> path)))
      .select("doc_id").as[Long].collect().sorted.toSeq

  test("generational compact: pointer commit, probe parity, appends follow the pointer") {
    val idx = java.nio.file.Files.createTempDirectory("genlay").toString
    build(idx)
    append(idx, 100L, "first fresh appended sentence with novel tokens entirely")
    append(idx, 101L, "second fresh appended sentence no overlap with anything else")
    val batch = Seq(
      (200L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of built
      (201L, "first fresh appended sentence with novel tokens entirely"), // dup of append
      (202L, "wholly original material never indexed in any generation"))
    val before = probe(idx, batch)
    assert(before === Seq(202L))

    IndexCompactOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
    assert(GraftFs.readString(s"$idx/corpus.ptr").trim === "corpus-000001")
    assert(!GraftFs.isDir(s"$idx/corpus"), "old classic dir is garbage after the commit")
    assert(IndexSnapshot.corpusDir(idx).endsWith("corpus-000001"))
    assert(probe(idx, batch) === before, "probe results identical across the pointer commit")
    val stats = IndexStatsOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
      .select("files", "appends_since_compact").as[(Long, Long)].head()
    assert(stats === ((1L, 0L)), "stats resolve the active generation")

    // appends resolve through the pointer: land in the generation dir,
    // visible to the next probe
    append(idx, 102L, "third append after the generational compact lands correctly")
    assert(GraftFs.listFilesRec(s"$idx/corpus-000001").size > 1)
    assert(probe(idx, Seq(
      (300L, "third append after the generational compact lands correctly"),
      (301L, "still newer text appearing nowhere in the corpus at all"))) === Seq(301L))

    // second compact: gen increments, pointer flips, old gen GC'd
    IndexCompactOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
    assert(GraftFs.readString(s"$idx/corpus.ptr").trim === "corpus-000002")
    assert(!GraftFs.isDir(s"$idx/corpus-000001"))
    assert(probe(idx, batch) === before)

    // and again
    append(idx, 103L, "a fourth appended line of text to fragment the corpus again")
    IndexCompactOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
    assert(GraftFs.readString(s"$idx/corpus.ptr").trim === "corpus-000003")

    // the retired layout option is rejected, not silently ignored
    val e = intercept[GraftConfigError](IndexCompactOp(StageContext.one(spark, corpus,
      Cfg.of("path" -> idx, "layout" -> "swap"))))
    assert(e.getMessage.contains("corpus.ptr"))
  }

  test("generational compact preserves partitioned layouts: bands probe + ivf pruning") {
    import graft.operators.{DedupEmbeddingOp, KnnIvfOp, KnnLshOp}
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed * 31L + 7)
      val v = Array.fill(16)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val vecs = (0 until 30).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

    // bands layout: probe parity + ingest_tag folding across a pointer commit
    val bidx = java.nio.file.Files.createTempDirectory("genlay_b").toString
    graft.operators.IndexBuildOp(StageContext.one(spark, vecs, Cfg.of(
      "type" -> "lsh", "blocking" -> "bands", "path" -> bidx,
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "bands" -> 8, "band_planes" -> 4, "seed" -> 11, "partition_dirs" -> 4)))
    val batch = Seq((100L, vec(3)), (101L, vec(999))).toDF("vec_id", "embedding")
    def bandsProbe(): Seq[Long] =
      DedupEmbeddingOp(StageContext.one(spark, batch, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "index_path" -> bidx)))
        .select("vec_id").as[Long].collect().sorted.toSeq
    val before = bandsProbe()
    assert(before === Seq(101L), "copy of vec 3 drops, novel survives")
    IndexCompactOp(StageContext.one(spark, vecs, Cfg.of("path" -> bidx)))
    assert(GraftFs.isFile(s"$bidx/corpus.ptr"))
    assert(bandsProbe() === before, "banded partition join identical under the generation dir")
    val lshTop = KnnLshOp(StageContext.one(spark, vecs, Cfg.of(
      "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
      "k" -> 5, "index_path" -> bidx))).collect().head
    assert(lshTop.getLong(0) === 0L && lshTop.getDouble(1) === 1.0)

    // ivf layout: cell partition pruning survives the pointer commit
    val iidx = java.nio.file.Files.createTempDirectory("genlay_i").toString
    graft.operators.IndexBuildOp(StageContext.one(spark, vecs, Cfg.of(
      "type" -> "ivf", "path" -> iidx, "vector_column" -> "embedding",
      "nlist" -> 4, "seed" -> 11)))
    def ivfTop(): Seq[(Long, Double)] =
      KnnIvfOp(StageContext.one(spark, vecs, Cfg.of(
        "query_id" -> 2, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 5, "nprobe" -> 4, "index_path" -> iidx)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivfBefore = ivfTop()
    IndexCompactOp(StageContext.one(spark, vecs, Cfg.of("path" -> iidx)))
    assert(GraftFs.isFile(s"$iidx/corpus.ptr"))
    assert(ivfTop() === ivfBefore, "ivf probe identical under the generation dir")
  }

  test("crashed-rewrite garbage generations are collected; overwrite rebuild resets to classic") {
    val idx = java.nio.file.Files.createTempDirectory("genlay_gc").toString
    build(idx)
    append(idx, 100L, "fragmenting append so the compact has work to fold here")
    IndexCompactOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
    // a rewrite that crashed before its pointer commit leaves an
    // unreferenced generation dir — the next compact collects it and
    // still numbers past it correctly? No: GC removes it first, so
    // numbering continues from the ACTIVE generation
    GraftFs.mkdirs(s"$idx/corpus-000099")
    GraftFs.writeString(s"$idx/corpus-000099/junk.txt", "crashed rewrite leftovers")
    append(idx, 101L, "another fragmenting append before the second compact runs")
    IndexCompactOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
    assert(!GraftFs.exists(s"$idx/corpus-000099"), "unreferenced generation collected")
    assert(GraftFs.readString(s"$idx/corpus.ptr").trim === "corpus-000002")

    // mode=overwrite rebuild drops the pointer and generations — back to
    // the classic layout with fresh content
    build(idx)
    assert(!GraftFs.exists(s"$idx/corpus.ptr"))
    assert(GraftFs.isDir(s"$idx/corpus"))
    assert(GraftFs.listDirNames(idx).count(_.startsWith("corpus-")) === 0)
    assert(probe(idx, Seq(
      (400L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (401L, "fragmenting append so the compact has work to fold here"))) === Seq(401L),
      "rebuilt index holds only the rebuilt corpus — pre-rebuild appends are gone")
  }

  test("a crash between the pointer commit and the old corpus delete") {
    val idx = java.nio.file.Files.createTempDirectory("genlay_crash").toString
    build(idx)
    append(idx, 100L, "fragmenting append so the compact has work to fold here")
    val batch = Seq(
      (200L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (201L, "wholly original material never indexed in any generation"))
    val before = probe(idx, batch)
    // keep a copy of the classic corpus, compact, then put the copy back:
    // the state a crash right after the pointer commit leaves
    val saved = java.nio.file.Files.createTempDirectory("genlay_saved").toString + "/corpus"
    spark.read.parquet(s"$idx/corpus").write.parquet(saved)
    IndexCompactOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
    spark.read.parquet(saved).write.parquet(s"$idx/corpus")
    assert(GraftFs.isDir(s"$idx/corpus") && GraftFs.isFile(s"$idx/corpus.ptr"))

    // readers see the committed generation, not the leftover
    assert(IndexSnapshot.corpusDir(idx).endsWith("corpus-000001"))
    assert(probe(idx, batch) === before)
    val files = IndexStatsOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
      .select("files").as[Long].head()
    assert(files === 1L, "stats count the active generation only")
    // the next compact collects the old classic corpus/
    IndexCompactOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx)))
    assert(!GraftFs.isDir(s"$idx/corpus"), "leftover classic corpus/ collected")
    assert(GraftFs.readString(s"$idx/corpus.ptr").trim === "corpus-000002")
    assert(probe(idx, batch) === before)
  }
}
