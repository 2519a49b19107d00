package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.config.{Cfg, GraftConfigError}
import graft.core.{GraftFs, StageContext}
import graft.operators._
import graft.streaming.StreamIngestSink

/** Every index consumer resolves its index through one catalog: one index
  * of each kind is built, and every consumer runs against every kind. A
  * consumer opens the kinds it accepts; on any other kind it fails with
  * one GraftConfigError, "the index at P is a X index, not a Y index",
  * before it writes anything or starts a query. */
class IndexCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val types = Seq("minhash", "ngram", "simhash", "exact", "lsh", "ivf", "ivfpq")

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
    "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
  private def rows(ids: Seq[Long]): DataFrame = ids.map { i =>
    (i, (0 until 8).map(j => words(((i * 3 + j * 5) % words.size).toInt)).mkString(" "),
      Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat + 0.25f))
  }.toDF("doc_id", "text", "embedding")
  private lazy val corpus = rows(1L to 24L)
  private lazy val batch = rows(100L to 103L)

  private def buildCfg(tpe: String): Seq[(String, Any)] = Seq[(String, Any)]("type" -> tpe) ++
    (tpe match {
      case "minhash" | "ngram" | "simhash" =>
        Seq("id_column" -> "doc_id", "text_column" -> "text")
      case "exact" => Seq("columns" -> Seq("text"))
      case "lsh" => Seq("vector_column" -> "embedding", "num_planes" -> 16, "blocks" -> 4,
        "partition_dirs" -> 8)
      case "ivf" => Seq("vector_column" -> "embedding", "nlist" -> 2)
      case "ivfpq" => Seq("vector_column" -> "embedding", "nlist" -> 2, "m" -> 2, "ksub" -> 4)
    })

  private def build(tpe: String, path: String, extra: (String, Any)*): Unit =
    IndexBuildOp(StageContext.one(spark, corpus,
      Cfg.of(buildCfg(tpe) ++ Seq[(String, Any)]("path" -> path) ++ extra: _*)))

  private lazy val indexes: Map[String, String] = types.map { t =>
    val p = java.nio.file.Files.createTempDirectory(s"graft_catalog_$t").toString
    build(t, p)
    t -> p
  }.toMap

  /** the files of an index's meta/ and corpus/ with their lengths */
  private def state(path: String): Set[(String, Long)] =
    Seq("meta", "centroids", "corpus").filter(d => GraftFs.isDir(s"$path/$d"))
      .flatMap(d => GraftFs.listFilesRec(s"$path/$d")).toSet

  private def one(df: DataFrame, kv: (String, Any)*): StageContext =
    StageContext.one(spark, df, Cfg.of(kv: _*))
  private val text = Seq[(String, Any)]("id_column" -> "doc_id", "text_column" -> "text")
  private val vec = Seq[(String, Any)]("id_column" -> "doc_id", "vector_column" -> "embedding")
  private val ivfKinds = Set("ivf", "ivfpq")

  /** (consumer, the kinds it accepts, how its errors name them, run on path) */
  private val consumers: Seq[(String, Set[String], String, String => Any)] = Seq(
    ("dedup.minhash", Set("minhash"), "a minhash",
      p => DedupMinHashOp(one(batch, text :+ ("index_path" -> p): _*)).collect()),
    ("dedup.ngram", Set("ngram"), "a ngram",
      p => DedupNgramOp(one(batch, text :+ ("index_path" -> p): _*)).collect()),
    ("dedup.simhash", Set("simhash"), "a simhash",
      p => DedupSimHashOp(one(batch, text :+ ("index_path" -> p): _*)).collect()),
    ("dedup.exact", Set("exact"), "a exact",
      p => DedupExactOp(one(batch, "columns" -> Seq("text"), "index_path" -> p)).collect()),
    ("dedup.embedding", Set("lsh"), "an lsh",
      p => DedupEmbeddingOp(one(batch, vec :+ ("index_path" -> p): _*)).collect()),
    ("join.similar method=minhash", Set("minhash"), "a minhash",
      p => SimilarJoinOp(one(batch, text :+ ("index_path" -> p): _*)).collect()),
    ("join.similar method=embedding", Set("lsh"), "an lsh",
      p => SimilarJoinOp(one(batch, vec ++ Seq("method" -> "embedding", "index_path" -> p): _*))
        .collect()),
    ("knn.join", Set("lsh") ++ ivfKinds, "a vector",
      p => KnnJoinOp(one(batch, vec ++ Seq("k" -> 3, "index_path" -> p): _*)).collect()),
    ("knn.lsh", Set("lsh"), "an lsh", p => KnnLshOp(one(batch,
      vec ++ Seq("query_id" -> 100L, "k" -> 3, "index_path" -> p): _*)).collect()),
    ("knn.ivf", ivfKinds, "an ivf/ivfpq", p => KnnIvfOp(one(batch,
      vec ++ Seq("query_id" -> 100L, "k" -> 3, "nprobe" -> 2, "index_path" -> p): _*)).collect()),
    ("cluster.assign", ivfKinds, "an ivf/ivfpq", p => ClusterAssignOp(one(batch,
      "vector_column" -> "embedding", "index_path" -> p)).collect()),
    ("index.recall", ivfKinds, "an ivf/ivfpq", p => IndexRecallOp(one(batch, "path" -> p,
      "k" -> 3, "nprobe" -> 2, "queries" -> 2, "id_column" -> "doc_id")).collect()),
    ("index.compact retrain_if", ivfKinds, "an ivf/ivfpq", p => IndexCompactOp(one(batch,
      "path" -> p, "retrain_if" -> Map("cell_skew_above" -> 1000.0)))))

  private def wrongKind(path: String, found: String, noun: String)(body: => Any): Unit = {
    val before = state(path)
    val e = intercept[GraftConfigError](body)
    assert(e.getMessage.contains(s"the index at $path is a $found index, not $noun index"),
      e.getMessage)
    assert(state(path) === before, "a rejected consumer must leave the index as it was")
  }

  for ((name, accepts, noun, run) <- consumers) test(s"$name opens only the kinds it accepts") {
    for (t <- types) withClue(s"$name on a $t index: ") {
      if (accepts(t)) run(indexes(t)) else wrongKind(indexes(t), t, noun)(run(indexes(t)))
    }
  }

  test("index.build mode=append extends only an index of its own kind") {
    val family = Map("lsh" -> Set("lsh"), "ivf" -> ivfKinds, "ivfpq" -> ivfKinds)
    val noun = Map("lsh" -> "an lsh", "ivf" -> "an ivf/ivfpq", "ivfpq" -> "an ivf/ivfpq")
    for (appended <- types; t <- types) withClue(s"type=$appended append on a $t index: ") {
      val p = indexes(t)
      def append(): Unit = build(appended, p, "mode" -> "append")
      if (appended == t) append()
      else if (family.getOrElse(appended, Set(appended))(t)) {
        val e = intercept[GraftConfigError](append())
        assert(e.getMessage.contains(s"append with type=$t"), e.getMessage)
      } else wrongKind(p, t, noun.getOrElse(appended, s"a $appended"))(append())
    }
  }

  test("stream.ingest resolves the index kind before the query starts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    val expected = Seq("minhash" -> "a minhash", "ngram" -> "a ngram",
      "simhash" -> "a simhash", "exact" -> "a exact", "embedding" -> "an lsh")
    for ((dedup, noun) <- expected; t <- types
         if t != (if (dedup == "embedding") "lsh" else dedup)) withClue(s"dedup=$dedup on $t: ") {
      val out = java.nio.file.Files.createTempDirectory("graft_catalog_out").toString
      wrongKind(indexes(t), t, noun)(StreamIngestSink(one(stream, "path" -> out,
        "index_path" -> indexes(t), "dedup" -> dedup, "id_column" -> "doc_id",
        "text_column" -> "text", "columns" -> Seq("text"))))
      assert(spark.streams.active.isEmpty, "no query may start")
      assert(!GraftFs.isDir(s"$out/_checkpoint"))
    }
  }

  test("index.build accepts only mode overwrite or append, for every kind") {
    for (t <- types; mode <- Seq("ignore", "errorifexists")) withClue(s"type=$t mode=$mode: ") {
      val p = indexes(t)
      val before = state(p)
      val e = intercept[GraftConfigError](build(t, p, "mode" -> mode, "num_hashes" -> 64))
      assert(e.getMessage.contains("mode must be overwrite|append"), e.getMessage)
      assert(state(p) === before, "a rejected mode must leave the index as it was")
    }
  }

  test("an exact index's meta/ keeps its field name and physical type") {
    val p = java.nio.file.Files.createTempDirectory("graft_catalog_exact_meta").toString
    build("exact", p)
    val part = GraftFs.listFilesRec(s"$p/meta").map(_._1).filter(_.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part), GraftFs.hadoopConf))
    val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    assert(schema.toString ===
      """message spark_schema {
        |  optional group columns (LIST) {
        |    repeated group list {
        |      optional binary element (STRING);
        |    }
        |  }
        |}
        |""".stripMargin)
    assert(spark.read.parquet(s"$p/meta").head().getSeq[String](0) === Seq("text"))
  }

  test("a corpus without meta or centroids cannot be appended to, for every kind") {
    for (t <- types) withClue(s"type=$t: ") {
      val p = java.nio.file.Files.createTempDirectory(s"graft_catalog_nometa_$t").toString
      build(t, p)
      Seq("meta", "centroids").foreach(d => GraftFs.deleteRec(s"$p/$d"))
      val e = intercept[GraftConfigError](build(t, p, "mode" -> "append"))
      assert(e.getMessage.contains("has a corpus but no meta"), e.getMessage)
    }
  }
}
