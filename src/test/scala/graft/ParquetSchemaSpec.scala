package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import graft.config.Cfg
import graft.core.{GraftFs, StageContext}
import graft.operators.{IndexBuildOp, IndexSnapshot, ParquetSchema}

/** The driver-resolved parquet schema is EXACTLY what Spark's inference
  * returns wherever it resolves, and every shape it does not reproduce
  * falls back (None) to Spark's own inference. */
class ParquetSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** resolved = inferred, and a read typed by it has the inferred schema */
  private def assertResolves(paths: String*): StructType = {
    val inferred = spark.read.parquet(paths: _*).schema
    val resolved = ParquetSchema(spark, paths)
    assert(resolved === Some(inferred), paths.mkString(", "))
    assert(spark.read.schema(resolved.get).parquet(paths: _*).schema === inferred)
    inferred
  }

  private def dataFiles(dir: String): Vector[String] =
    GraftFs.listFilesRec(dir).map(_._1).filter(f => f.endsWith(".parquet")).sorted

  test("Spark-written tables of every fixture column type resolve; other writers' fall back") {
    // the column types of the sf fixture tables (TESTDATA.md) plus nested
    // and non-nullable ones
    val df = spark.range(0, 60).selectExpr(
      "id AS c_long", "CAST(id AS INT) AS c_int", "id * 1.5D AS c_double",
      "CAST(id AS STRING) AS c_string", "array(CAST(id AS FLOAT), 1.0F) AS c_floats",
      "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, CAST(id AS INT)) AS c_ts",
      "DATE '2024-01-01' AS c_date", "CAST(id AS DECIMAL(12, 2)) AS c_decimal",
      "id % 2 = 0 AS c_bool", "CAST(CAST(id AS STRING) AS BINARY) AS c_binary",
      "map('k', CAST(id AS INT)) AS c_map",
      "named_struct('a', CAST(id AS INT), 'b', array('x', 'y')) AS c_struct")
    assert(!df.schema("c_long").nullable)
    val dir = tmp("graft_pqs_types") + "/t"
    df.repartition(3).write.parquet(dir)
    assert(assertResolves(dir)("c_long").nullable)
    assertResolves(dataFiles(dir): _*)
    assert(ParquetSchema.ofDataFiles(spark, dataFiles(dir)) ===
      Some(spark.read.parquet(dir).schema))
    // a file another writer made carries no Spark row metadata
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary s (UTF8); }")
    val other = tmp("graft_pqs_other")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$other/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("s", "x"))
    finally w.close()
    assert(ParquetSchema(spark, Seq(other)) === None)
    assert(spark.read.parquet(other).schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("every index kind's corpus: flat corpora resolve, partitioned ones fall back") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val corpus = (1L to 24L).map { i =>
      (i, (0 until 8).map(j => words(((i * 3 + j * 5) % words.size).toInt)).mkString(" "),
        Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat + 0.25f))
    }.toDF("doc_id", "text", "embedding")
    val kinds: Seq[(String, Seq[(String, Any)], Boolean)] = Seq(
      ("minhash", Seq("id_column" -> "doc_id", "text_column" -> "text"), true),
      ("ngram", Seq("id_column" -> "doc_id", "text_column" -> "text"), true),
      ("simhash", Seq("id_column" -> "doc_id", "text_column" -> "text"), true),
      ("exact", Seq("columns" -> Seq("text")), true),
      ("lsh", Seq("vector_column" -> "embedding", "num_planes" -> 16, "blocks" -> 4,
        "partition_dirs" -> 8), false),
      ("lsh", Seq("vector_column" -> "embedding", "blocking" -> "bands", "bands" -> 4,
        "band_planes" -> 4, "partition_dirs" -> 8), false),
      ("ivf", Seq("vector_column" -> "embedding", "nlist" -> 2), false),
      ("ivfpq", Seq("vector_column" -> "embedding", "nlist" -> 2, "m" -> 2, "ksub" -> 4), false))
    for ((tpe, cfg, flat) <- kinds) {
      val path = tmp(s"graft_pqs_$tpe")
      IndexBuildOp(StageContext.one(spark, corpus,
        Cfg.of(Seq[(String, Any)]("type" -> tpe, "path" -> path) ++ cfg: _*)))
      val dir = IndexSnapshot.corpusDir(path)
      val files = IndexSnapshot.files(dir, "no corpus")
      if (flat) {
        assertResolves(dir)
        assertResolves(files: _*)
        // the snapshot read is typed by the footer, not by the caller's
        // placeholder schema
        assert(IndexSnapshot.read(spark, dir, "no corpus", new StructType()).schema ===
          spark.read.parquet(files: _*).schema, tpe)
      } else {
        assert(ParquetSchema(spark, Seq(dir)) === None, s"$tpe: partition dirs infer")
        // each partition leaf dir alone is flat again
        files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.foreach(assertResolves(_))
      }
    }
  }

  test("a long-id corpus stays long when the probing batch has int ids") {
    val path = tmp("graft_pqs_ids")
    IndexBuildOp(StageContext.one(spark,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      Cfg.of("type" -> "minhash", "path" -> path, "id_column" -> "doc_id",
        "text_column" -> "text")))
    val intIds = StructType.fromDDL("id INT, shingles ARRAY<BIGINT>, sig ARRAY<BIGINT>")
    val read = IndexSnapshot.read(spark, IndexSnapshot.corpusDir(path), "no corpus", intIds)
    assert(read.schema("id").dataType === org.apache.spark.sql.types.LongType)
    val probe = graft.operators.DedupMinHashOp(StageContext.one(spark,
      Seq((7, "alpha beta gamma delta epsilon zeta"), (8, "an unrelated novel sentence here"))
        .toDF("doc_id", "text"),
      Cfg.of("id_column" -> "doc_id", "text_column" -> "text", "index_path" -> path)))
    assert(probe.select("doc_id").as[Int].collect().toSeq === Seq(8))
  }

  test("Spark's footer rule: _common_metadata, else _metadata, else the first data file") {
    def written(df: DataFrame): String = {
      val d = tmp("graft_pqs_src") + "/t"
      df.coalesce(1).write.parquet(d)
      dataFiles(d).head.stripPrefix("file:")
    }
    val longFile = written(Seq(1L, 2L).toDF("x"))
    val intFile = written(Seq(1, 2).toDF("x"))
    def dirOf(files: (String, String)*): String = {
      val d = tmp("graft_pqs_mixed")
      files.foreach { case (src, name) =>
        Files.copy(Paths.get(src), Paths.get(d, name), StandardCopyOption.REPLACE_EXISTING)
      }
      d
    }
    // sorted by path: part-aaa (bigint) is read, part-zzz (int) is not
    val mixed = dirOf(longFile -> "part-aaa.parquet", intFile -> "part-zzz.parquet")
    assert(assertResolves(mixed)("x").dataType === org.apache.spark.sql.types.LongType)
    // an explicit file list sorts the same way, whatever order it is given in
    assert(assertResolves(s"$mixed/part-zzz.parquet", s"$mixed/part-aaa.parquet")("x")
      .dataType === org.apache.spark.sql.types.LongType)
    // a summary file wins over every data file
    for (summary <- Seq("_metadata", "_common_metadata")) {
      val withSummary = dirOf(longFile -> "part-aaa.parquet", intFile -> summary)
      assert(assertResolves(withSummary)("x").dataType ===
        org.apache.spark.sql.types.IntegerType, summary)
    }
    val both = dirOf(longFile -> "part-aaa.parquet", longFile -> "_metadata",
      intFile -> "_common_metadata")
    assert(assertResolves(both)("x").dataType === org.apache.spark.sql.types.IntegerType)
  }

  test("shapes the rule does not reproduce fall back to Spark's inference") {
    val df = Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "s", "p")
    val partitioned = tmp("graft_pqs_part") + "/t"
    df.write.partitionBy("p").parquet(partitioned)
    assert(ParquetSchema(spark, Seq(partitioned)) === None)
    val flat = tmp("graft_pqs_flat") + "/t"
    df.write.parquet(flat)
    assert(ParquetSchema(spark, Seq(flat)).isDefined)
    // a nested non-partition directory
    val nested = tmp("graft_pqs_nested")
    df.write.parquet(s"$nested/sub")
    assert(ParquetSchema(spark, Seq(nested)) === None)
    // globs, a missing path, an empty directory
    assert(ParquetSchema(spark, Seq(s"$flat/part-*")) === None)
    assert(ParquetSchema(spark, Seq(s"$flat/missing")) === None)
    assert(ParquetSchema(spark, Seq(tmp("graft_pqs_empty"))) === None)
    // a data file without the .parquet suffix
    val odd = tmp("graft_pqs_odd")
    Files.copy(Paths.get(dataFiles(flat).head.stripPrefix("file:")), Paths.get(odd, "part-0"))
    assert(ParquetSchema(spark, Seq(odd)) === None)
    // schema merging, by session conf
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(ParquetSchema(spark, Seq(flat)) === None)
      assert(ParquetSchema.ofDataFiles(spark, dataFiles(flat)) === None)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
