package graft

import org.apache.spark.sql.{functions => F}
import graft.config.{Cfg, GraftConfigError}
import graft.core.{GraftPlanError, StageContext}
import graft.core.GraftFs
import graft.operators.{DedupEmbeddingOp, DedupMinHashOp, IndexBuildOp, IndexCompactOp,
  IndexSnapshot, IndexStatsOp}

/** index.compact: the physical rewrite must be invisible to probes (same
  * survivors, bit-identical semantics), shrink the file count that
  * incremental appends fragment, and commit through `corpus.ptr` on every
  * store. Indexes an older rename-swap compact left mid-swap fail loud
  * instead of being repaired behind the reader's back. */
class IndexCompactSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"),
    (3L, "red orange yellow green blue indigo violet pink brown black")
  ).toDF("doc_id", "text")

  private def buildMinhash(path: String): Unit =
    IndexBuildOp(StageContext.one(spark, corpus, Cfg.of(
      "type" -> "minhash", "path" -> path, "id_column" -> "doc_id",
      "text_column" -> "text", "shingle_size" -> 3, "num_hashes" -> 64,
      "bands" -> 16, "seed" -> 7)))

  private def compact(path: String, extra: (String, Any)*): Unit =
    IndexCompactOp(StageContext.one(spark, corpus,
      Cfg.of((Seq[(String, Any)]("path" -> path) ++ extra): _*)))

  private def corpusFiles(path: String): Vector[String] =
    IndexSnapshot.files(IndexSnapshot.corpusDir(path), "no corpus")

  test("minhash: appends fragment, compact coalesces, probes see identical survivors") {
    val idx = java.nio.file.Files.createTempDirectory("ic_mh").toString
    buildMinhash(idx)
    // fragment the corpus: three batch appends + two streaming-tag dirs
    (0 until 3).foreach { i =>
      val b = Seq((100L + i, s"fresh unique sentence number $i with its own vocabulary here"))
        .toDF("doc_id", "text")
      DedupMinHashOp(StageContext.one(spark, b, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx, "index_append" -> true)))
        .count()
    }
    val sigs = spark.read.parquet(corpusFiles(idx): _*)
    IndexSnapshot.append(sigs.filter(F.col("id") === 1L), s"$idx/corpus", Some("sb-ff-0"))
    IndexSnapshot.append(sigs.filter(F.col("id") === 2L), s"$idx/corpus", Some("sb-ff-1"))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$idx/corpus/sb-ff-0")))

    val before = corpusFiles(idx)
    val rowsBefore = spark.read.parquet(before: _*)
      .select("id").as[Long].collect().sorted.toSeq
    val batch = Seq(
      (200L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // copy of 1
      (201L, "fresh unique sentence number 2 with its own vocabulary here"), // copy of append
      (202L, "genuinely new words never indexed under any generation at all")
    ).toDF("doc_id", "text")
    def probe() = DedupMinHashOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "threshold" -> 0.8, "index_path" -> idx)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val survivorsBefore = probe()
    assert(survivorsBefore === Seq(202L))

    // sb-* dirs are indistinguishable from an in-flight micro-batch append:
    // folding one that a crashed stream.ingest query still has to replay
    // would break the replay's self-match exclusion — compact refuses
    // without the quiesced assertion
    intercept[GraftConfigError](compact(idx))
    compact(idx, "force" -> true)
    val after = corpusFiles(idx)
    assert(after.size < before.size, s"${before.size} files must shrink, got ${after.size}")
    assert(after.size === 1, "gate-scale corpus fits one 128 MiB target file")
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"${IndexSnapshot.corpusDir(idx)}/sb-ff-0")),
      "streaming per-batch dirs fold into the flat generation")
    val rowsAfter = spark.read.parquet(after: _*)
      .select("id").as[Long].collect().sorted.toSeq
    assert(rowsAfter === rowsBefore, "compaction is purely physical — exact same rows")
    assert(probe() === survivorsBefore, "probe results identical across compaction")
    // meta untouched → params still validate
    assert(spark.read.parquet(s"$idx/meta").head().getAs[Int]("num_hashes") === 64)
  }

  test("compact_if: untripped thresholds skip the rewrite; tripped ones compact") {
    val idx = java.nio.file.Files.createTempDirectory("ic_pol").toString
    buildMinhash(idx)
    // fragment with two appends
    (0 until 2).foreach { i =>
      DedupMinHashOp(StageContext.one(spark,
        Seq((300L + i, s"novel policy sentence number $i with distinct tokens here"))
          .toDF("doc_id", "text"),
        Cfg.of("id_column" -> "doc_id", "text_column" -> "text",
          "threshold" -> 0.8, "index_path" -> idx, "index_append" -> true))).count()
    }
    val before = corpusFiles(idx)
    assert(before.size > 1)
    // files_above not reached AND gate-scale files are tiny, so with only
    // a files_above condition nothing trips → untouched
    compact(idx, "compact_if" -> Map("files_above" -> 1000L))
    assert(corpusFiles(idx).size === before.size, "untripped compact_if must be a no-op")
    intercept[GraftConfigError](compact(idx, "compact_if" -> Map("bogus" -> 1L)))
    // never compacted → appends_since_compact = every file → trips
    compact(idx, "compact_if" -> Map("appends_since_compact_above" -> 2L))
    assert(corpusFiles(idx).size === 1, "tripped compact_if must compact")
    // immediately after a compact, the appends counter is 0 → re-run skips
    compact(idx, "compact_if" -> Map("appends_since_compact_above" -> 0L))
    assert(corpusFiles(idx).size === 1)
  }

  test("lsh: partition layout survives, embedding probe identical across compaction") {
    val idx = java.nio.file.Files.createTempDirectory("ic_lsh").toString
    val vecs = (0 until 40).map { i =>
      val r = new scala.util.Random(i * 31L + 7)
      val v = Array.fill(16)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }.toDF("vec_id", "embedding")
    IndexBuildOp(StageContext.one(spark, vecs, Cfg.of(
      "type" -> "lsh", "path" -> idx, "vector_column" -> "embedding",
      "num_planes" -> 16, "blocks" -> 4, "seed" -> 11, "partition_dirs" -> 8)))
    // fragment: one appended batch (novel vectors)
    val novel = (100 until 110).map { i =>
      val r = new scala.util.Random(i * 53L + 1)
      val v = Array.fill(16)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }.toDF("vec_id", "embedding")
    DedupEmbeddingOp(StageContext.one(spark, novel, Cfg.of(
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "threshold" -> 0.95, "index_path" -> idx, "index_append" -> true))).count()

    val before = corpusFiles(idx)
    // batch: exact copies of one indexed and one appended vector + a novel one
    val batch = vecs.filter(F.col("vec_id") === 3L)
      .select((F.col("vec_id") + 1000L).as("vec_id"), F.col("embedding"))
      .unionByName(novel.filter(F.col("vec_id") === 105L)
        .select((F.col("vec_id") + 1000L).as("vec_id"), F.col("embedding")))
      .unionByName(Seq((2000L, {
        // seed must avoid the index generators' seed spaces (i*31+7 for the
        // build, i*53+1 for the append) — 999 = 32*31+7 made this vector an
        // exact copy of indexed vec 32, which the probe correctly dropped
        val r = new scala.util.Random(424242L)
        val v = Array.fill(16)(r.nextGaussian().toFloat)
        val n = math.sqrt(v.map(x => x * x).sum).toFloat
        v.map(_ / n)
      })).toDF("vec_id", "embedding"))
    def probe() = DedupEmbeddingOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "threshold" -> 0.95, "index_path" -> idx)))
      .select("vec_id").as[Long].collect().sorted.toSeq
    val survivorsBefore = probe()
    assert(survivorsBefore === Seq(2000L))

    compact(idx)
    val after = corpusFiles(idx)
    assert(after.size < before.size)
    assert(after.forall(_.contains("block=")), "partition dirs survive")
    assert(after.forall(_.contains("pbucket=")))
    assert(probe() === survivorsBefore, "pruned probe identical across compaction")
  }

  test("a local compact commits through corpus.ptr") {
    val idx = java.nio.file.Files.createTempDirectory("ic_ptr").toString
    buildMinhash(idx)
    val rows = spark.read.parquet(corpusFiles(idx): _*)
      .select("id").as[Long].collect().sorted.toSeq
    compact(idx)
    assert(GraftFs.readString(s"$idx/corpus.ptr").trim === "corpus-000001")
    assert(GraftFs.listDirNames(idx).filter(_.startsWith("corpus")) === Vector("corpus-000001"),
      "no classic corpus/ and no swap staging dirs beside the committed generation")
    assert(spark.read.parquet(corpusFiles(idx): _*)
      .select("id").as[Long].collect().sorted.toSeq === rows)
    val e = intercept[GraftConfigError](compact(idx, "layout" -> "swap"))
    assert(e.getMessage.contains("corpus.ptr"))
  }

  test("legacy mid-swap states: missing corpus fails loud, leftovers collected") {
    import java.nio.file.{Files, Paths}
    def ids(files: Seq[String]) =
      spark.read.parquet(files: _*).select("id").as[Long].collect().sorted.toSeq
    def probe(idx: String) = DedupMinHashOp(StageContext.one(spark, corpus, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "threshold" -> 0.8, "index_path" -> idx))).count()
    // a complete copy of the corpus under `name`, as the swap staged them
    def hold(idx: String, name: String): Unit =
      spark.read.parquet(corpusFiles(idx): _*).write.parquet(s"$idx/$name")

    // died between hold-aside and install: no corpus/, the old generation
    // held as .old and the new one complete in .tmp. Every reader and
    // compact fail loud naming both and the restoring rename; nothing is
    // deleted
    val idx = Files.createTempDirectory("ic_legacy").toString
    buildMinhash(idx)
    val rows = ids(corpusFiles(idx))
    hold(idx, "corpus.compact.tmp")
    Files.move(Paths.get(s"$idx/corpus"), Paths.get(s"$idx/corpus.compact.old"))
    Seq[() => Any](() => corpusFiles(idx), () => probe(idx), () => compact(idx),
        () => IndexStatsOp(StageContext.one(spark, corpus, Cfg.of("path" -> idx))))
      .foreach { read =>
        val m = intercept[GraftPlanError](read()).getMessage
        assert(m.contains(s"$idx/corpus.compact.old") && m.contains(s"$idx/corpus.compact.tmp"), m)
        assert(m.contains(s"rename $idx/corpus.compact.old to $idx/corpus"), m)
      }
    assert(Files.isDirectory(Paths.get(s"$idx/corpus.compact.old")))
    assert(Files.isDirectory(Paths.get(s"$idx/corpus.compact.tmp")))
    // the named rename restores the index; the next compact collects .tmp
    Files.move(Paths.get(s"$idx/corpus.compact.old"), Paths.get(s"$idx/corpus"))
    assert(ids(corpusFiles(idx)) === rows)
    compact(idx)
    assert(!Files.isDirectory(Paths.get(s"$idx/corpus.compact.tmp")))
    assert(ids(corpusFiles(idx)) === rows)

    // died after install (held .old left) or before the swap began (stale
    // .tmp left), beside an intact corpus: readers work and leave the dirs
    // alone; compact collects them
    for (left <- Seq(Seq("corpus.compact.old"), Seq("corpus.compact.tmp"),
        Seq("corpus.compact.old", "corpus.compact.tmp"))) {
      val idx = Files.createTempDirectory("ic_legacy").toString
      buildMinhash(idx)
      left.foreach(hold(idx, _))
      assert(ids(corpusFiles(idx)) === rows, left)
      assert(probe(idx) === 0L, left)
      assert(left.forall(d => Files.isDirectory(Paths.get(s"$idx/$d"))), left)
      compact(idx)
      assert(left.forall(d => !Files.isDirectory(Paths.get(s"$idx/$d"))), left)
      assert(ids(corpusFiles(idx)) === rows, left)
    }
  }

  test("ivf: append fragments cells, compact coalesces, knn probe identical") {
    val idx = java.nio.file.Files.createTempDirectory("ic_ivf").toString
    def mk(seedBase: Int, from: Int, until: Int) = (from until until).map { i =>
      val r = new scala.util.Random(i * 31L + seedBase)
      val v = Array.fill(8)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }.toDF("vec_id", "embedding")
    IndexBuildOp(StageContext.one(spark, mk(7, 0, 40), Cfg.of(
      "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
      "nlist" -> 4, "seed" -> 11)))
    // two frozen-quantizer appends fragment the cell dirs
    IndexBuildOp(StageContext.one(spark, mk(7, 100, 120), Cfg.of(
      "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
      "mode" -> "append")))
    IndexBuildOp(StageContext.one(spark, mk(7, 200, 220), Cfg.of(
      "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
      "mode" -> "append")))
    def probe() = graft.operators.KnnIvfOp(StageContext.one(spark, mk(7, 0, 1), Cfg.of(
      "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
      "k" -> 10, "nprobe" -> 4, "index_path" -> idx)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val filesBefore = corpusFiles(idx).size
    val before = probe()
    compact(idx)
    assert(corpusFiles(idx).size < filesBefore, "compaction must reduce file count")
    assert(probe() === before, "ivf probe identical across compaction")
    // layout survived: cell dirs still prune (partition columns intact)
    assert(spark.read.parquet(IndexSnapshot.corpusDir(idx)).columns.contains("cell"))
  }

  test("index.stats reports fragmentation before/after compact") {
    val idx = java.nio.file.Files.createTempDirectory("ic_stats").toString
    buildMinhash(idx)
    // fragment: one batch append + one streaming-tag dir
    DedupMinHashOp(StageContext.one(spark,
      Seq((300L, "completely novel appended sentence with unique words")).toDF("doc_id", "text"),
      Cfg.of("id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx, "index_append" -> true))).count()
    val sigs = spark.read.parquet(corpusFiles(idx): _*)
    IndexSnapshot.append(sigs.filter(F.col("id") === 1L), s"$idx/corpus", Some("sb-aa-0"))

    def stats() = IndexStatsOp(StageContext.one(spark, corpus,
      Cfg.of("path" -> idx))).head()
    val before = stats()
    assert(before.getAs[String]("index_type") === "minhash")
    assert(before.getAs[Long]("rows") === 5L) // 3 built + 1 appended + 1 stream row
    assert(before.getAs[Long]("files") === corpusFiles(idx).size.toLong)
    assert(before.getAs[Long]("stream_append_dirs") === 1L)
    assert(before.getAs[Long]("partition_dirs") === 0L)
    assert(before.getAs[Long]("bytes") > 0L)
    assert(before.getAs[Long]("appends_since_compact") === before.getAs[Long]("files"),
      "never compacted → every file counts as an append")

    compact(idx, "force" -> true) // folds the sb-* dir — quiesced by construction
    val after = stats()
    assert(after.getAs[Long]("files") === 1L)
    assert(after.getAs[Long]("rows") === 5L, "compaction is physical only")
    assert(after.getAs[Long]("stream_append_dirs") === 0L)
    assert(after.getAs[Long]("appends_since_compact") === 0L,
      "freshly compacted → zero appends since")
    // grow again: only the post-compact files count toward the signal
    DedupMinHashOp(StageContext.one(spark,
      Seq((400L, "yet another wholly different appended sentence entirely")).toDF("doc_id", "text"),
      Cfg.of("id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx, "index_append" -> true))).count()
    val grown = stats()
    assert(grown.getAs[Long]("appends_since_compact") ===
      grown.getAs[Long]("files") - 1L, "the compacted generation file is excluded")

    // lsh layout: partition_dirs populated, family reported
    val lsh = java.nio.file.Files.createTempDirectory("ic_stats_lsh").toString
    val vecs = (0 until 8).map(i => (i.toLong, Array.fill(8)(i * 0.1f + 0.3f)))
      .toDF("vec_id", "embedding")
    IndexBuildOp(StageContext.one(spark, vecs, Cfg.of(
      "type" -> "lsh", "path" -> lsh, "vector_column" -> "embedding",
      "num_planes" -> 16, "blocks" -> 4, "seed" -> 11, "partition_dirs" -> 4)))
    val ls = IndexStatsOp(StageContext.one(spark, corpus, Cfg.of("path" -> lsh))).head()
    assert(ls.getAs[String]("index_type") === "lsh")
    assert(ls.getAs[Long]("partition_dirs") > 0L)
    // missing index fails loud
    intercept[GraftPlanError](IndexStatsOp(StageContext.one(spark, corpus, Cfg.of(
      "path" -> java.nio.file.Files.createTempDirectory("ic_stats_none").toString))))
  }

  test("rejections: missing index, bad target, empty corpus no-op") {
    intercept[GraftPlanError](compact(
      java.nio.file.Files.createTempDirectory("ic_none").toString))
    val idx = java.nio.file.Files.createTempDirectory("ic_badcfg").toString
    buildMinhash(idx)
    intercept[GraftConfigError](compact(idx, "target_file_mb" -> 0))
    // empty index (build over empty input): compact is a clean no-op
    val empty = java.nio.file.Files.createTempDirectory("ic_empty").toString
    IndexBuildOp(StageContext.one(spark, corpus.filter(F.lit(false)), Cfg.of(
      "type" -> "exact", "path" -> empty, "columns" -> Seq("text"))))
    compact(empty)
  }
}
