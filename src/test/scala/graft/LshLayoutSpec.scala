package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config.{Cfg, GraftConfigError}
import graft.core.StageContext
import graft.operators.{DedupEmbeddingOp, IndexBuildOp, KnnJoinOp, KnnLshOp, LshDefaults,
  LshLayout, SimilarJoinOp}

/** The two lsh layouts (pigeonhole, bands) share one open, one writer and
  * one probe join: every consumer of an lsh index — dedup.embedding,
  * knn.join, join.similar, knn.lsh — must reject the same mismatches with
  * the same GraftConfigError, and the writer must refuse rows it cannot
  * key. */
class LshLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(dim: Int, ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Array.tabulate(dim)(j => ((i * 7 + j * 3) % 5 - 2).toFloat + 0.25f)))
      .toDF("vec_id", "embedding")

  private val layouts: Seq[(String, Seq[(String, Any)])] = Seq(
    "pigeonhole" -> Seq("num_planes" -> 16, "blocks" -> 4),
    "bands" -> Seq("blocking" -> "bands", "bands" -> 4, "band_planes" -> 4))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_lshl_$name").toString

  private def build(params: Seq[(String, Any)], path: String, rows: DataFrame,
      mode: String = "overwrite"): Unit =
    IndexBuildOp(StageContext.one(spark, rows, Cfg.of((params ++ Seq[(String, Any)](
      "type" -> "lsh", "path" -> path, "vector_column" -> "embedding", "seed" -> 11,
      "partition_dirs" -> 8, "mode" -> mode)): _*)))

  private def lshIndex(layout: String): String = {
    val p = tmp(layout)
    build(layouts.toMap.apply(layout), p, vecs(4, 1L to 20L))
    p
  }

  private type Consumer = (String, DataFrame, Seq[(String, Any)]) => DataFrame
  private def run(base: (String, Any)*)(idx: String, batch: DataFrame,
      extra: Seq[(String, Any)])(op: StageContext => DataFrame): DataFrame =
    op(StageContext.one(spark, batch, Cfg.of((Seq[(String, Any)](
      "id_column" -> "vec_id", "vector_column" -> "embedding", "index_path" -> idx) ++
      base ++ extra): _*)))
  private val consumers: Seq[(String, Consumer)] = Seq(
    "dedup.embedding" -> ((i, b, e) => run()(i, b, e)(DedupEmbeddingOp(_))),
    "knn.join" -> ((i, b, e) => run("k" -> 3)(i, b, e)(KnnJoinOp(_))),
    "join.similar" -> ((i, b, e) => run("method" -> "embedding")(i, b, e)(SimilarJoinOp(_))),
    "knn.lsh" -> ((i, b, e) => run("query_id" -> 100, "k" -> 3)(i, b, e)(KnnLshOp(_))))

  private def rejects(what: String)(body: => DataFrame): String =
    withClue(s"$what: ")(intercept[GraftConfigError] {
      graft.core.RowGuard.raising(body.collect())
    }.getMessage)

  test("every consumer rejects batch vectors whose length differs from the index dim") {
    for ((layout, _) <- layouts; idx = lshIndex(layout); dim <- Seq(8, 2);
         (name, consumer) <- consumers) {
      val msg = rejects(s"$name, $dim-dim batch, $layout")(
        consumer(idx, vecs(dim, 100L to 103L), Nil))
      assert(msg.contains(s"have length $dim") && msg.contains("dim = 4"),
        s"$name on a 4-dim $layout index, $dim-dim batch: $msg")
    }
  }

  test("every consumer rejects a config parameter that conflicts with the index meta") {
    val conflicts = Map(
      "pigeonhole" -> Seq("num_planes" -> 32, "blocks" -> 2, "seed" -> 99, "dim" -> 8,
        "partition_dirs" -> 4, "blocking" -> "bands"),
      "bands" -> Seq("bands" -> 8, "band_planes" -> 8, "seed" -> 99, "dim" -> 8,
        "partition_dirs" -> 4, "blocking" -> "pigeonhole"))
    for ((layout, _) <- layouts; idx = lshIndex(layout); (name, consumer) <- consumers;
         (key0, value) <- conflicts(layout)) {
      // join.similar spells num_planes `planes`
      val key = if (name == "join.similar" && key0 == "num_planes") "planes" else key0
      val msg = rejects(s"$name $key")(consumer(idx, vecs(4, 100L to 103L), Seq(key -> value)))
      assert(msg.contains(s"$key = $value conflicts with the index"),
        s"$name with $key = $value on a $layout index: $msg")
    }
  }

  test("an lsh consumer or append on another family's index names both families") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "one two three four five"))
      .toDF("doc_id", "text")
    for (family <- Seq("minhash", "ngram", "simhash", "exact")) {
      val idx = tmp(family)
      IndexBuildOp(StageContext.one(spark, docs, Cfg.of("type" -> family, "path" -> idx,
        "id_column" -> "doc_id", "text_column" -> "text", "columns" -> Seq("text"))))
      val appendLsh: Consumer = (i, b, _) => {
        build(layouts.head._2, i, b, mode = "append"); b
      }
      for ((name, consumer) <- consumers :+ ("index.build type=lsh mode=append" -> appendLsh)) {
        val msg = rejects(s"$name on $family")(consumer(idx, vecs(4, 100L to 103L), Nil))
        val expected = if (name == "knn.join") "not a vector index" else "not an lsh index"
        assert(msg.contains(s"is a $family index, $expected"), s"$name on a $family index: $msg")
        assert(!msg.contains("mode=overwrite"), s"$name must not advise a rebuild: $msg")
      }
    }
  }

  test("a null vector fails index.build and index_append with a GraftConfigError") {
    val withNull = vecs(4, 1L to 5L).withColumn("embedding",
      F.when(F.col("vec_id") === 3L, F.lit(null)).otherwise(F.col("embedding")))
    for ((layout, params) <- layouts) {
      val msg = rejects(s"$layout build") {
        build(params, tmp(s"null_$layout"), withNull); withNull
      }
      assert(msg.contains("null vector in column 'embedding'"), s"$layout build: $msg")

      val idx = lshIndex(layout)
      val before = spark.read.parquet(s"$idx/corpus").count()
      val batch = withNull.withColumn("vec_id", F.col("vec_id") + 100)
      val appendMsg = rejects(s"$layout index_append")(
        consumers.head._2(idx, batch, Seq("index_append" -> true)))
      assert(appendMsg.contains("null vector in column 'embedding'"), s"$layout append: $appendMsg")
      assert(spark.read.parquet(s"$idx/corpus").count() === before,
        s"a failed $layout append must leave the corpus as it was")
    }
  }

  test("meta fields, physical types and corpus partition dirs of both layouts") {
    val expected = Map(
      "pigeonhole" -> (Seq("required int32 num_planes", "required int32 blocks",
        "required int64 seed", "required int32 dim", "required int32 pbuckets"),
        Seq("block=", "pbucket=")),
      "bands" -> (Seq("required int32 bands", "required int32 band_planes",
        "required int64 seed", "required int32 dim", "required int32 pbuckets"),
        Seq("band=", "pband=", "ingest_tag=base")))
    for ((layout, _) <- layouts) {
      val idx = lshIndex(layout)
      val (fields, dirs) = expected(layout)
      val part = graft.core.GraftFs.listFilesRec(s"$idx/meta").map(_._1)
        .filter(_.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part), graft.core.GraftFs.hadoopConf))
      val schema = try reader.getFooter.getFileMetaData.getSchema.getFields
      finally reader.close()
      import scala.jdk.CollectionConverters._
      assert(schema.asScala.map(_.toString) === fields, layout)
      val files = graft.core.GraftFs.listFilesRec(s"$idx/corpus").map(_._1)
        .filter(_.endsWith(".parquet"))
      assert(files.nonEmpty)
      for (f <- files) {
        val levels = graft.core.GraftFs.relativize(s"$idx/corpus", f).split('/').dropRight(1)
        assert(levels.length === dirs.length && levels.zip(dirs).forall {
          case (level, prefix) => level.startsWith(prefix)
        }, s"$layout corpus file $f")
      }
    }
  }

  test("query keys equal the keys the signature expression gives the stored vector") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(5)
    for ((layout, params) <- layouts) {
      val l = LshLayout.byName(layout).get
      val p = l.fromConfig(Cfg.of(params: _*), LshDefaults(), 6)
      val qs = Seq.fill(20)(Seq.fill(6)(rnd.nextGaussian() * 1e-3))
      val stored = qs.map(_.map(_.toFloat)).toDF("embedding")
        .select(l.keys(l.signature(F.col("embedding"), p), p))
        .collect().map(_.getSeq[Long](0))
      assert(qs.map(l.queryKeys(_, p)) === stored.toSeq, layout)
    }
  }
}
