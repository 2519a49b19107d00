package graft

import org.apache.spark.sql.{functions => F}
import graft.config.{Cfg, GraftConfigError}
import graft.core.StageContext
import graft.operators.{DedupExactOp, DedupMinHashOp, IndexBuildOp}

/** index.build type=minhash + dedup.minhash index_path: the incremental
  * text-dedup path — new batches dedup against a persisted signature
  * corpus without rescanning it. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Long, words: String) = (i, words)

  // base corpus: two distinct "topics" of word soup
  private def corpus1 = Seq(
    doc(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    doc(2, "one two three four five six seven eight nine ten"),
    doc(3, "red orange yellow green blue indigo violet pink brown black")
  ).toDF("doc_id", "text")

  private def buildIndex(path: String): Unit =
    IndexBuildOp(StageContext.one(spark, corpus1, Cfg.of(
      "type" -> "minhash", "path" -> path, "id_column" -> "doc_id",
      "text_column" -> "text", "shingle_size" -> 3, "num_hashes" -> 64,
      "bands" -> 16, "seed" -> 7)))

  test("new batch drops near-matches of the index, keeps novel docs") {
    val idx = java.nio.file.Files.createTempDirectory("mh_idx").toString
    buildIndex(idx)
    val batch = Seq(
      doc(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact copy of 1
      doc(11, "one two three four five six seven eight nine ten eleven"),  // near-dup of 2
      doc(12, "totally novel words about completely unrelated subject matter entirely"),
      doc(13, "totally novel words about completely unrelated subject matter entirely") // in-batch dup of 12
    ).toDF("doc_id", "text")
    val got = DedupMinHashOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "threshold" -> 0.8, "index_path" -> idx)))
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(12L))
  }

  test("index_append grows the corpus: the next batch dedups against survivors") {
    val idx = java.nio.file.Files.createTempDirectory("mh_idx2").toString
    buildIndex(idx)
    val batchA = Seq(
      doc(20, "fresh unique sentence with its own particular vocabulary choices here")
    ).toDF("doc_id", "text")
    // direct invocation: deferToSuccess runs immediately → append happens now
    val keptA = DedupMinHashOp(StageContext.one(spark, batchA, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "threshold" -> 0.8, "index_path" -> idx, "index_append" -> true)))
    assert(keptA.count() === 1)
    val batchB = Seq(
      doc(30, "fresh unique sentence with its own particular vocabulary choices here"), // dup of 20
      doc(31, "another brand new document unlike anything indexed so far truly")
    ).toDF("doc_id", "text")
    val keptB = DedupMinHashOp(StageContext.one(spark, batchB, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "threshold" -> 0.8, "index_path" -> idx)))
      .select("doc_id").as[Long].collect().sorted
    assert(keptB.toSeq === Seq(31L), "batch A's survivor must be matchable after append")
  }

  test("dedup.exact index_path: key anti-join, append, column mismatch") {
    val idx = java.nio.file.Files.createTempDirectory("ex_idx").toString
    IndexBuildOp(StageContext.one(spark, corpus1, Cfg.of(
      "type" -> "exact", "path" -> idx, "columns" -> Seq("text"))))
    val batch = Seq(
      doc(50, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // in index
      doc(51, "novel document text here"),
      doc(52, "novel document text here") // in-batch dup
    ).toDF("doc_id", "text")
    val kept = DedupExactOp(StageContext.one(spark, batch, Cfg.of(
      "columns" -> Seq("text"), "keep" -> "first", "order_by" -> Seq("doc_id"),
      "index_path" -> idx, "index_append" -> true)))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq === Seq(51L))
    // append made 51's text part of the corpus for the next batch
    val next = DedupExactOp(StageContext.one(spark,
      Seq(doc(60, "novel document text here"), doc(61, "even newer")).toDF("doc_id", "text"),
      Cfg.of("columns" -> Seq("text"), "keep" -> "any", "index_path" -> idx)))
    assert(next.select("doc_id").as[Long].collect().toSeq === Seq(61L))
    // column mismatch fails loud
    intercept[GraftConfigError](DedupExactOp(StageContext.one(spark, batch, Cfg.of(
      "columns" -> Seq("doc_id", "text"), "index_path" -> idx))))
  }

  test("dedup.embedding index_path: drops index matches, append grows the lsh corpus") {
    import graft.operators.DedupEmbeddingOp
    val idx = java.nio.file.Files.createTempDirectory("lsh_idx").toString
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)), (3L, vec(0, 0, 1, 0))
    ).toDF("vec_id", "embedding")
    IndexBuildOp(StageContext.one(spark, corpus, Cfg.of(
      "type" -> "lsh", "path" -> idx, "vector_column" -> "embedding",
      "num_planes" -> 16, "blocks" -> 4, "seed" -> 11)))
    val batch = Seq(
      (10L, vec(1, 0, 0, 0)),        // exact copy of 1 → dropped vs index
      (11L, vec(0.999, 0.04, 0, 0)), // near-dup of 1 → dropped vs index
      (12L, vec(0, 0, 0, 1)),        // novel direction → kept
      (13L, vec(0, 0, 0, 1))         // in-batch exact dup of 12 → dropped
    ).toDF("vec_id", "embedding")
    val kept = DedupEmbeddingOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "threshold" -> 0.95, "index_path" -> idx, "index_append" -> true)))
    assert(kept.select("vec_id").as[Long].collect().sorted.toSeq === Seq(12L))
    // append made 12 part of the corpus: its copy now drops
    val next = DedupEmbeddingOp(StageContext.one(spark,
      Seq((20L, vec(0, 0, 0, 1)), (21L, vec(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "index_path" -> idx)))
    assert(next.select("vec_id").as[Long].collect().toSeq === Seq(21L))
    // param conflicts and batch-only policies fail loud
    intercept[GraftConfigError](DedupEmbeddingOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "index_path" -> idx, "num_planes" -> 64))))
    intercept[GraftConfigError](DedupEmbeddingOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "index_path" -> idx, "keep_by" -> "q"))))
  }

  test("explain plans against a missing index via an empty placeholder") {
    // the earlier index.build barrier is skipped under explain, so the
    // index may not exist yet — explain must still produce a plan
    val ghost = java.nio.file.Files.createTempDirectory("mh_ghost").toString + "/nope"
    val batch = Seq(doc(70, "anything at all")).toDF("doc_id", "text")
    def explainCfg(extra: (String, Any)*) = Cfg.of(Seq[(String, Any)](
      "id_column" -> "doc_id", "text_column" -> "text",
      "index_path" -> ghost, "_explain_only" -> true) ++ extra: _*)
    assert(DedupMinHashOp(StageContext.one(spark, batch, explainCfg())).count() === 1)
    assert(DedupExactOp(StageContext.one(spark, batch,
      Cfg.of("columns" -> Seq("text"), "index_path" -> ghost, "_explain_only" -> true)))
      .count() === 1)
    val vbatch = Seq((71L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    assert(graft.operators.DedupEmbeddingOp(StageContext.one(spark, vbatch,
      Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding",
        "index_path" -> ghost, "_explain_only" -> true, "dim" -> 3)))
      .count() === 1)
    // a real run against the missing index still fails loud
    intercept[graft.core.GraftPlanError](DedupMinHashOp(StageContext.one(spark, batch,
      Cfg.of("id_column" -> "doc_id", "text_column" -> "text", "index_path" -> ghost))))
  }

  test("conflicting signature params and batch-only policies fail loud") {
    val idx = java.nio.file.Files.createTempDirectory("mh_idx3").toString
    buildIndex(idx)
    val batch = Seq(doc(40, "whatever words")).toDF("doc_id", "text")
    def run(extra: (String, Any)*) = DedupMinHashOp(StageContext.one(spark, batch,
      Cfg.of(Seq[(String, Any)]("id_column" -> "doc_id", "text_column" -> "text",
        "index_path" -> idx) ++ extra: _*)))
    intercept[GraftConfigError](run("num_hashes" -> 128))
    intercept[GraftConfigError](run("seed" -> 99))
    intercept[GraftConfigError](run("keep_by" -> "q"))
    intercept[GraftConfigError](run("transitive" -> true))
    // matching explicit params are accepted
    assert(run("num_hashes" -> 64, "bands" -> 16).count() === 1)
  }

  test("exact content keys cannot alias across column boundaries or null") {
    // a separator-join key would make ("x<sep>y","z") collide with
    // ("x","y<sep>z") and a null sentinel collide with its literal —
    // both silent false-positive drops; the fixed-width token key must
    // keep all four distinct
    val idx = java.nio.file.Files.createTempDirectory("ex_alias").toString
    val sep = "\u0001"; val sentinel = "\u0002"
    val indexed = Seq((1L, s"x${sep}y", "z"), (2L, "n", null: String))
      .toDF("id", "a", "b")
    IndexBuildOp(StageContext.one(spark, indexed, Cfg.of(
      "type" -> "exact", "path" -> idx, "columns" -> Seq("a", "b"))))
    val batch = Seq(
      (10L, "x", s"y${sep}z"),     // boundary-shift alias of row 1 → must SURVIVE
      (11L, "n", sentinel),        // literal sentinel vs row 2's null → must SURVIVE
      (12L, s"x${sep}y", "z"),     // true duplicate of row 1 → must drop
      (13L, "n", null: String)     // true duplicate of row 2 → must drop
    ).toDF("id", "a", "b")
    val kept = DedupExactOp(StageContext.one(spark, batch, Cfg.of(
      "columns" -> Seq("a", "b"), "index_path" -> idx)))
    assert(kept.select("id").as[Long].collect().sorted.toSeq === Seq(10L, 11L))
  }

  test("an index built over empty input reads as an empty index, not a scan error") {
    // index.build over zero rows may write only _SUCCESS under corpus/ —
    // the snapshot read must treat that as 'nothing indexed' instead of
    // failing with spark's unrelated 'unable to infer schema'
    val idx = java.nio.file.Files.createTempDirectory("ex_empty").toString
    IndexBuildOp(StageContext.one(spark, corpus1.filter(F.col("doc_id") < 0),
      Cfg.of("type" -> "exact", "path" -> idx, "columns" -> Seq("text"))))
    val batch = Seq(doc(80, "first ever document")).toDF("doc_id", "text")
    val kept = DedupExactOp(StageContext.one(spark, batch, Cfg.of(
      "columns" -> Seq("text"), "index_path" -> idx)))
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(80L))
    // same for the minhash corpus
    val midx = java.nio.file.Files.createTempDirectory("mh_empty").toString
    IndexBuildOp(StageContext.one(spark, corpus1.filter(F.col("doc_id") < 0), Cfg.of(
      "type" -> "minhash", "path" -> midx, "id_column" -> "doc_id",
      "text_column" -> "text", "num_hashes" -> 64, "bands" -> 16, "seed" -> 7)))
    val mkept = DedupMinHashOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text", "index_path" -> midx)))
    assert(mkept.select("doc_id").as[Long].collect().toSeq === Seq(80L))
  }

  test("a batch whose vectors mismatch the index dim fails loud") {
    import graft.operators.DedupEmbeddingOp
    val idx = java.nio.file.Files.createTempDirectory("lsh_dim").toString
    val corpus = Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    IndexBuildOp(StageContext.one(spark, corpus, Cfg.of(
      "type" -> "lsh", "path" -> idx, "vector_column" -> "embedding",
      "num_planes" -> 16, "blocks" -> 4, "seed" -> 11)))
    // hyperplaneSig truncates at min(dim, len): a 3-dim batch vs the 4-dim
    // index would silently sign over a prefix and miss cross matches
    val short = Seq((10L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[GraftConfigError](graft.core.RowGuard.raising(
      DedupEmbeddingOp(StageContext.one(spark, short, Cfg.of("id_column" -> "vec_id",
        "vector_column" -> "embedding", "index_path" -> idx))).collect()))
    assert(e.getMessage.contains("dim"))
  }

  test("two index_append stages on one index in one pipeline are rejected") {
    val idx = java.nio.file.Files.createTempDirectory("ex_twice").toString
    IndexBuildOp(StageContext.one(spark, corpus1, Cfg.of(
      "type" -> "exact", "path" -> idx, "columns" -> Seq("text"))))
    val tmp = java.nio.file.Files.createTempDirectory("graft_docs_appender")
    corpus1.write.parquet(s"$tmp/documents.parquet")
    // each appender snapshots the corpus at plan time, so neither would see
    // the other's survivors — the pipeline must fail loud at compile
    val e = intercept[GraftConfigError] {
      graft.core.DagCompiler.default.run(spark, graft.config.PipelineConfig.fromString(
        s"""[pipeline]
           |name = "doubleappend"
           |[[stages]]
           |id = "docs"
           |function = "table.read"
           |config = { dir = "$tmp", table = "documents" }
           |[[stages]]
           |id = "d1"
           |function = "dedup.exact"
           |inputs = ["docs"]
           |config = { columns = ["text"], index_path = "$idx", index_append = true }
           |[[stages]]
           |id = "d2"
           |function = "dedup.exact"
           |inputs = ["d1"]
           |config = { columns = ["text"], index_path = "$idx", index_append = true }
           |[[stages]]
           |id = "out"
           |function = "noop.sink"
           |inputs = ["d2"]
           |""".stripMargin))
    }
    assert(e.getMessage.contains("index_append"))
    // a SINGLE appender in a pipeline still runs fine
    graft.core.DagCompiler.default.run(spark, graft.config.PipelineConfig.fromString(
      s"""[pipeline]
         |name = "singleappend"
         |[[stages]]
         |id = "docs"
         |function = "table.read"
         |config = { dir = "$tmp", table = "documents" }
         |[[stages]]
         |id = "d1"
         |function = "dedup.exact"
         |inputs = ["docs"]
         |config = { columns = ["text"], index_path = "$idx", index_append = true }
         |[[stages]]
         |id = "out"
         |function = "noop.sink"
         |inputs = ["d1"]
         |""".stripMargin))
  }

  test("dedup.ngram index_path: drops index matches, append, param conflict") {
    import graft.operators.DedupNgramOp
    val idx = java.nio.file.Files.createTempDirectory("ng_idx").toString
    IndexBuildOp(StageContext.one(spark, corpus1, Cfg.of(
      "type" -> "ngram", "path" -> idx, "id_column" -> "doc_id",
      "text_column" -> "text", "ngram_size" -> 5, "bands" -> 8,
      "rows_per_band" -> 6, "seed" -> 7)))
    val batch = Seq(
      doc(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // copy of 1
      doc(11, "totally novel characters about another unrelated topic entirely"),
      doc(12, "totally novel characters about another unrelated topic entirely") // in-batch dup
    ).toDF("doc_id", "text")
    val got = DedupNgramOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "threshold" -> 0.8, "index_path" -> idx, "index_append" -> true)))
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(11L))
    // the survivor joined the index: a re-send drops
    val again = DedupNgramOp(StageContext.one(spark, Seq(
      doc(20, "totally novel characters about another unrelated topic entirely"))
      .toDF("doc_id", "text"), Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "threshold" -> 0.8, "index_path" -> idx)))
    assert(again.count() === 0)
    // conflicting signature params and index-family mismatch fail loud
    intercept[GraftConfigError](DedupNgramOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "ngram_size" -> 4, "index_path" -> idx))))
    intercept[GraftConfigError](DedupNgramOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "keep_by" -> "text", "index_path" -> idx))))
    // probing a MINHASH index with dedup.ngram is a family mismatch
    val mh = java.nio.file.Files.createTempDirectory("ng_mismatch").toString
    buildIndex(mh)
    intercept[GraftConfigError](DedupNgramOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text", "index_path" -> mh))))
  }

  test("dedup.simhash index_path: hamming probe, append, family mismatch") {
    import graft.operators.DedupSimHashOp
    val idx = java.nio.file.Files.createTempDirectory("sh_idx").toString
    IndexBuildOp(StageContext.one(spark, corpus1, Cfg.of(
      "type" -> "simhash", "path" -> idx, "id_column" -> "doc_id",
      "text_column" -> "text")))
    val batch = Seq(
      doc(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // copy of 1 (hamming 0)
      doc(11, "completely different vocabulary nothing shared with index documents whatsoever"),
      doc(12, "completely different vocabulary nothing shared with index documents whatsoever") // in-batch dup
    ).toDF("doc_id", "text")
    val got = DedupSimHashOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "max_distance" -> 3, "index_path" -> idx, "index_append" -> true)))
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(11L))
    // appended survivor is now in the corpus
    val again = DedupSimHashOp(StageContext.one(spark, Seq(
      doc(20, "completely different vocabulary nothing shared with index documents whatsoever"))
      .toDF("doc_id", "text"), Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text", "index_path" -> idx)))
    assert(again.count() === 0)
    // family mismatch + batch-only policies fail loud
    val mh = java.nio.file.Files.createTempDirectory("sh_mismatch").toString
    buildIndex(mh)
    intercept[GraftConfigError](DedupSimHashOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text", "index_path" -> mh))))
    intercept[GraftConfigError](DedupSimHashOp(StageContext.one(spark, batch, Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text",
      "transitive" -> true, "index_path" -> idx))))
  }
}
