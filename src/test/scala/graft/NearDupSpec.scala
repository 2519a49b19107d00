package graft

import org.apache.spark.sql.DataFrame
import graft.config.{Cfg, GraftConfigError, PipelineConfig}
import graft.core.{DagCompiler, RowGuard, Stage, StageContext}
import graft.operators.{DedupEmbeddingOp, DedupMinHashOp, IndexBuildOp, SimilarJoinOp}

/** Every mode of the near-dup driver keeps one dim policy for embedding
  * blockings — each vector is checked, not just a sampled first one — and
  * fails loud with the op's name in front of the message. */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  /** 4-dim vectors, except a 2-dim one after the first row */
  private def ragged(ids: Seq[Long], shortId: Long): DataFrame =
    ids.map(i => (i, if (i == shortId) Array(1f, 0.5f)
      else Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat + 0.25f)))
      .toDF("vec_id", "embedding")

  private def lshIndex(params: (String, Any)*): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    IndexBuildOp(StageContext.one(spark, ragged(1L to 20L, -1L), Cfg.of((Seq[(String, Any)](
      "type" -> "lsh", "path" -> p, "vector_column" -> "embedding", "seed" -> 11,
      "partition_dirs" -> 8) ++ params): _*)))
    p
  }

  private def fails(what: String)(body: => DataFrame): String =
    withClue(s"$what: ")(intercept[GraftConfigError](RowGuard.raising(body.collect())).getMessage)

  private val vec = Seq[(String, Any)]("id_column" -> "vec_id", "vector_column" -> "embedding")
  private val blockings = Seq(
    Seq[(String, Any)]("num_planes" -> 16, "blocks" -> 4),
    Seq[(String, Any)]("blocking" -> "bands", "bands" -> 4, "band_planes" -> 4),
    Seq[(String, Any)]("blocking" -> "ivf", "nlist" -> 2))

  test("a wrong-length vector after the first row fails every embedding consumer") {
    val batch = ragged(100L to 110L, 105L)
    def one(op: Stage, cfg: Seq[(String, Any)]) =
      op(StageContext.one(spark, batch, Cfg.of(cfg: _*)))
    val consumers: Seq[(String, String, () => DataFrame)] =
      blockings.map(b => (s"dedup.embedding $b", "the first has length 4",
        () => one(DedupEmbeddingOp, vec ++ b))) ++
      Seq(("dedup.embedding dim = 4", "dim = 4 is configured",
        () => one(DedupEmbeddingOp, vec ++ blockings.head :+ ("dim" -> 4)))) ++
      blockings.take(2).flatMap { b =>
        val idx = lshIndex(b: _*)
        Seq((s"dedup.embedding index_path $b", "built with dim = 4",
          () => one(DedupEmbeddingOp, vec :+ ("index_path" -> idx))),
          (s"join.similar index_path $b", "built with dim = 4",
          () => one(SimilarJoinOp, vec ++ Seq("method" -> "embedding", "index_path" -> idx))))
      } ++
      blockings.map(b => (s"join.similar $b", "the first has length 4",
        () => SimilarJoinOp(StageContext(spark, Seq("l" -> batch, "r" -> ragged(1L to 10L, -1L)),
          Cfg.of(vec ++ b :+ ("method" -> "embedding"): _*)))))
    for ((name, dims, consumer) <- consumers) {
      val msg = fails(name)(consumer())
      assert(msg.contains("have length 2") && msg.contains(dims), s"$name: $msg")
    }
  }

  test("a TOML pipeline with a wrong-length vector fails with a GraftConfigError") {
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_toml")
    ragged(1L to 10L, 6L).write.parquet(s"$dir/in")
    val e = intercept[GraftConfigError](DagCompiler.default.run(spark, PipelineConfig.fromString(
      s"""[pipeline]
         |name = "ragged"
         |[[stages]]
         |id = "in"
         |function = "parquet.read"
         |config = { path = "$dir/in" }
         |[[stages]]
         |id = "dedup"
         |function = "dedup.embedding"
         |inputs = ["in"]
         |config = { id_column = "vec_id", vector_column = "embedding" }
         |[[stages]]
         |id = "out"
         |function = "parquet.write"
         |inputs = ["dedup"]
         |config = { path = "$dir/out" }
         |""".stripMargin)))
    assert(e.getMessage.contains("dedup.embedding: vectors in 'embedding' have length 2"),
      e.getMessage)
  }

  test("config errors of the near-dup ops name the op") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val text = Seq[(String, Any)]("id_column" -> "doc_id", "text_column" -> "text",
      "num_hashes" -> 100, "bands" -> 32)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "dedup.minhash: num_hashes=100 must divide evenly into bands=32" ->
        (() => DedupMinHashOp(StageContext.one(spark, docs, Cfg.of(text: _*)))),
      "join.similar: num_hashes=100 must divide evenly into bands=32" ->
        (() => SimilarJoinOp(StageContext(spark, Seq("l" -> docs, "r" -> docs),
          Cfg.of(text :+ ("method" -> "minhash"): _*)))),
      "join.similar: embedding dims differ: left 4 vs right 2" ->
        (() => SimilarJoinOp(StageContext(spark, Seq("l" -> ragged(1L to 3L, -1L),
          "r" -> ragged(Seq(7L), 7L)), Cfg.of(vec :+ ("method" -> "embedding"): _*)))))
    for ((expected, run) <- cases) {
      val msg = fails(expected)(run())
      assert(msg.startsWith(expected), msg)
    }
  }
}
