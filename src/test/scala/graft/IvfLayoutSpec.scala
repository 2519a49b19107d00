package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config.{Cfg, GraftConfigError}
import graft.core.StageContext
import graft.operators.{ClusterAssignOp, DedupEmbeddingOp, IndexBuildOp, KnnIvfOp, KnnJoinOp,
  SimilarJoinOp}

/** The two ivf layouts (flat, pq) share one quantizer, one open and one
  * writer: every consumer of an ivf index — knn.ivf, knn.join,
  * cluster.assign, the `blocking = "ivf"` quantizer_path of
  * dedup.embedding and join.similar, and index.build's append — must reject
  * the same mismatches with a GraftConfigError, and the writer must refuse
  * rows it cannot assign. */
class IvfLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 8

  private def vecs(dim: Int, ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(dim)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")

  private val layouts: Seq[(String, Seq[(String, Any)])] = Seq(
    "ivf" -> Seq("type" -> "ivf"),
    "ivfpq" -> Seq("type" -> "ivfpq", "m" -> 4, "ksub" -> 4))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ivfl_$name").toString

  private def build(params: Seq[(String, Any)], path: String, rows: DataFrame,
      mode: String = "overwrite"): Unit =
    IndexBuildOp(StageContext.one(spark, rows, Cfg.of((params ++ Seq[(String, Any)](
      "path" -> path, "vector_column" -> "embedding", "nlist" -> 4, "seed" -> 11,
      "mode" -> mode)): _*)))

  private def ivfIndex(layout: String): String = {
    val p = tmp(layout)
    build(layouts.toMap.apply(layout), p, vecs(Dim, 1L to 40L))
    p
  }

  private def rejects(what: String)(body: => DataFrame): String =
    withClue(s"$what: ")(intercept[GraftConfigError] { body.collect() }.getMessage)

  private def cfg(kv: (String, Any)*): Cfg = Cfg.of(kv: _*)
  private def one(batch: DataFrame, kv: (String, Any)*): StageContext =
    StageContext.one(spark, batch, cfg(kv: _*))
  private val ids = Seq[(String, Any)]("id_column" -> "vec_id", "vector_column" -> "embedding")

  /** every consumer of the index at `idx` over `batch` */
  private def consumers(idx: String, batch: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "knn.ivf" -> (() => KnnIvfOp(one(batch, ids ++ Seq("query_vector" ->
      batch.head().getSeq[Float](1).map(_.toDouble), "k" -> 3, "index_path" -> idx): _*))),
    "knn.join" -> (() => KnnJoinOp(one(batch, ids ++ Seq("k" -> 3, "index_path" -> idx): _*))),
    "cluster.assign" -> (() => ClusterAssignOp(one(batch, "index_path" -> idx))),
    "dedup.embedding" -> (() => DedupEmbeddingOp(one(batch, ids ++ Seq(
      "blocking" -> "ivf", "quantizer_path" -> idx): _*))),
    "join.similar" -> (() => SimilarJoinOp(StageContext(spark, Seq("l" -> batch, "r" -> batch),
      cfg(ids ++ Seq("method" -> "embedding", "blocking" -> "ivf", "quantizer_path" -> idx): _*)))),
    "index.build mode=append" -> { () =>
      build(layouts.head._2, idx, batch, mode = "append"); batch
    })

  test("bad nprobe, nlist and reserved input columns fail with a GraftConfigError") {
    val withCell = vecs(Dim, 1L to 10L).withColumn("cell", F.lit(777))
    val cases: Seq[(String, String, () => DataFrame)] = Seq(
      ("knn.ivf nprobe = 0 on an ivf index", "nprobe must be >= 1", () => KnnIvfOp(one(
        vecs(Dim, 1L to 10L), "query_id" -> 1, "k" -> 3, "nprobe" -> 0,
        "index_path" -> ivfIndex("ivf")))),
      ("knn.ivf nprobe = 0 on an ivfpq index", "nprobe must be >= 1", () => KnnIvfOp(one(
        vecs(Dim, 1L to 10L), "query_id" -> 1, "k" -> 3, "nprobe" -> 0,
        "index_path" -> ivfIndex("ivfpq")))),
      ("knn.ivf inline nprobe = 0", "nprobe must be >= 1", () => KnnIvfOp(one(
        vecs(Dim, 1L to 10L), "query_id" -> 1, "k" -> 3, "nlist" -> 2, "nprobe" -> 0))),
      ("knn.ivf inline nlist = 0", "nlist must be >= 1", () => KnnIvfOp(one(
        vecs(Dim, 1L to 10L), "query_id" -> 1, "k" -> 3, "nlist" -> 0))),
      ("index.build type=ivf nlist = 0", "nlist must be >= 1", () => {
        IndexBuildOp(one(vecs(Dim, 1L to 10L), "type" -> "ivf", "path" -> tmp("nl0"),
          "nlist" -> 0)); withCell
      }),
      ("index.build type=ivf over an input cell column", "reserves", () => {
        build(layouts.head._2, tmp("cell"), withCell); withCell
      }),
      ("index.build type=ivf mode=append of an input cell column", "reserves", () => {
        build(layouts.head._2, ivfIndex("ivf"), withCell, mode = "append"); withCell
      }))
    for ((what, expected, body) <- cases) {
      val msg = rejects(what)(body())
      assert(msg.contains(expected), s"$what: $msg")
    }
  }

  test("every consumer rejects batch vectors whose length differs from the index dim") {
    for ((layout, _) <- layouts; idx = ivfIndex(layout); dim <- Seq(2, 2 * Dim);
         (name, consumer) <- consumers(idx, vecs(dim, 100L to 103L))
         if layout == "ivf" || name != "index.build mode=append") {
      val msg = rejects(s"$name, $dim-dim batch, $layout")(consumer())
      assert(msg.contains(s"have length $dim") && msg.contains(s"dim = $Dim"),
        s"$name on an $Dim-dim $layout index, $dim-dim batch: $msg")
    }
  }

  test("an ivf consumer on another family's index names the family") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "one two three four five"))
      .toDF("doc_id", "text")
    for (family <- Seq("lsh", "minhash", "exact")) {
      val idx = tmp(family)
      if (family == "lsh") IndexBuildOp(one(vecs(Dim, 1L to 20L), "type" -> "lsh",
        "path" -> idx, "num_planes" -> 16, "blocks" -> 4, "partition_dirs" -> 8))
      else IndexBuildOp(one(docs, "type" -> family, "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "columns" -> Seq("text")))
      for ((name, consumer) <- consumers(idx, vecs(Dim, 100L to 103L)) if name != "knn.join") {
        val msg = rejects(s"$name on $family")(consumer())
        assert(msg.contains(s"is a $family index, not an ivf/ivfpq index"),
          s"$name on a $family index: $msg")
      }
    }
  }

  test("a null vector fails build and append loudly; batch blocking gives it no cell") {
    val withNull = vecs(Dim, 1L to 6L).withColumn("embedding",
      F.when(F.col("vec_id") === 3L, F.lit(null)).otherwise(F.col("embedding")))
    for ((layout, params) <- layouts) {
      val msg = rejects(s"$layout build") {
        build(params, tmp(s"null_$layout"), withNull); withNull
      }
      assert(msg.contains("null vector in column 'embedding'"), s"$layout build: $msg")
      val idx = ivfIndex(layout)
      val before = spark.read.parquet(s"$idx/corpus").count()
      val appendMsg = rejects(s"$layout append") {
        build(params.take(1), idx, withNull.withColumn("vec_id", F.col("vec_id") + 100),
          "append")
        withNull
      }
      assert(appendMsg.contains("null vector in column 'embedding'"), s"$layout append: $appendMsg")
      assert(spark.read.parquet(s"$idx/corpus").count() === before,
        s"a failed $layout append must leave the corpus as it was")
    }
    // batch blocking: the null row has no candidates and survives; its
    // exact copy (vec_id 13) still drops against vec_id 1's vector
    val batch = withNull.unionByName(vecs(Dim, Seq(1L)).withColumn("vec_id", F.lit(13L)))
    for (quantizer <- Seq(Seq("nlist" -> 2), Seq("quantizer_path" -> ivfIndex("ivf")))) {
      val kept = DedupEmbeddingOp(one(batch, ids ++ Seq("blocking" -> "ivf") ++ quantizer: _*))
        .select("vec_id").as[Long].collect().toSet
      assert(kept === Set(1L, 2L, 3L, 4L, 5L, 6L), s"dedup.embedding $quantizer")
      val pairs = SimilarJoinOp(StageContext(spark, Seq("l" -> withNull, "r" -> batch),
        cfg(ids ++ Seq("method" -> "embedding", "blocking" -> "ivf",
          "threshold" -> 0.99) ++ quantizer: _*)))
        .select("left_id", "right_id").as[(Long, Long)].collect().toSet
      assert(!pairs.exists { case (l, r) => l == 3L || r == 3L } && pairs.contains((1L, 13L)),
        s"join.similar $quantizer: $pairs")
    }
  }

  test("centroids, pq and meta fields, physical types and cell dirs of both layouts") {
    import scala.jdk.CollectionConverters._
    def fields(dir: String): Seq[String] = {
      val part = graft.core.GraftFs.listFilesRec(dir).map(_._1).filter(_.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part), graft.core.GraftFs.hadoopConf))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.toString.replaceAll("\\s+", " ").trim).toSeq
      finally reader.close()
    }
    val doubles = "optional group %s (LIST) { repeated group list { optional double element; } }"
    val centroids = Seq("required int32 cell", doubles.format("centroid"))
    for ((layout, _) <- layouts) {
      val idx = ivfIndex(layout)
      assert(fields(s"$idx/centroids") === centroids, layout)
      val corpusFiles = graft.core.GraftFs.listFilesRec(s"$idx/corpus").map(_._1)
        .filter(_.endsWith(".parquet"))
      assert(corpusFiles.nonEmpty && corpusFiles.forall { f =>
        val levels = graft.core.GraftFs.relativize(s"$idx/corpus", f).split('/').dropRight(1)
        levels.length == 1 && levels.head.matches("cell=\\d+")
      }, s"$layout corpus files: $corpusFiles")
      val corpusFields = fields(s"$idx/corpus")
      if (layout == "ivf") {
        assert(!new java.io.File(s"$idx/meta").exists(), "an ivf-flat index has no meta/")
        assert(!new java.io.File(s"$idx/pq").exists())
        assert(corpusFields.map(_.split(' ')(2)).toSet === Set("vec_id", "embedding"))
      } else {
        assert(fields(s"$idx/pq") === Seq("required int32 subspace", "required int32 code",
          doubles.format("center")))
        assert(fields(s"$idx/meta") === Seq("required int32 nlist", "required int32 m",
          "required int32 ksub", "required int32 dim", "required int64 seed",
          "optional binary vector_column (STRING)"))
        assert(corpusFields.filter(f => f.contains("pq_")) ===
          Seq("optional binary pq_codes", "optional double pq_vnorm"))
      }
    }
  }
}
