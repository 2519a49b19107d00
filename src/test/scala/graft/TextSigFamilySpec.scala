package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.{Cfg, GraftConfigError}
import graft.core.{Stage, StageContext}
import graft.operators.{DedupMinHashOp, DedupNgramOp, DedupSimHashOp, IndexBuildOp}

/** The text-signature families (minhash, ngram, simhash) share one probe
  * and one index build: an index of one family must never be read or
  * extended as another, and every entry point resolves the signature
  * functions on the session it was handed. */
class TextSigFamilySpec extends SparkSpec {
  private val families = Seq("minhash", "ngram", "simhash")
  private val ops: Map[String, Stage] =
    Map("minhash" -> DedupMinHashOp, "ngram" -> DedupNgramOp, "simhash" -> DedupSimHashOp)

  private def docs(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"))).toDF("doc_id", "text")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tsf_$name").toString

  private def build(s: SparkSession, tpe: String, path: String, mode: String): Unit =
    IndexBuildOp(StageContext.one(s, docs(s), Cfg.of(
      "type" -> tpe, "path" -> path, "id_column" -> "doc_id", "text_column" -> "text",
      "mode" -> mode)))

  private def probe(s: SparkSession, family: String, path: String): DataFrame =
    ops(family)(StageContext.one(s, docs(s), Cfg.of(
      "id_column" -> "doc_id", "text_column" -> "text", "index_path" -> path)))

  test("probing another family's index fails with a GraftConfigError naming both") {
    val indexes = families.map { f =>
      val p = tmp(f); build(spark, f, p, "overwrite"); f -> p
    }.toMap
    for (family <- families; indexed <- families if family != indexed) {
      val e = intercept[GraftConfigError](probe(spark, family, indexes(indexed)))
      assert(e.getMessage.contains(s"is a $indexed index, not a $family index"),
        s"dedup.$family on a $indexed index: ${e.getMessage}")
    }
    // and each family still probes its own index
    for (family <- families) assert(probe(spark, family, indexes(family)).count() === 0)
  }

  test("each family's meta/ keeps its parquet field names and physical types") {
    val expected = Map(
      "minhash" -> Seq("required int32 shingle_size", "required int32 num_hashes",
        "required int32 bands", "required int64 seed"),
      "ngram" -> Seq("required int32 ngram_size", "required int32 bands",
        "required int32 rows_per_band", "required int64 seed"),
      "simhash" -> Seq("required boolean simhash"))
    for (family <- families) {
      val p = tmp(s"schema_$family")
      build(spark, family, p, "overwrite")
      val part = graft.core.GraftFs.listFilesRec(s"$p/meta").map(_._1)
        .filter(_.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part), graft.core.GraftFs.hadoopConf))
      val fields = try reader.getFooter.getFileMetaData.getSchema.getFields
      finally reader.close()
      import scala.jdk.CollectionConverters._
      assert(fields.asScala.map(_.toString) === expected(family), family)
    }
  }

  test("a cross-family index.build mode=append fails and leaves the index untouched") {
    for (indexed <- families; appended <- families if appended != indexed) {
      val p = tmp(s"${indexed}_$appended")
      build(spark, indexed, p, "overwrite")
      def state() = (spark.read.parquet(s"$p/meta").collect().toSeq,
        spark.read.parquet(s"$p/meta").schema, spark.read.parquet(s"$p/corpus").count())
      val before = state()
      val e = intercept[GraftConfigError](build(spark, appended, p, "append"))
      assert(e.getMessage.contains(s"is a $indexed index, not a $appended index"),
        s"type=$appended append onto a $indexed index: ${e.getMessage}")
      assert(state() === before, s"type=$appended append changed the $indexed index")
    }
  }

  test("index.build and the probes register their functions on the caller's session") {
    val other = spark.newSession()
    val mh = tmp("session_mh")
    build(other, "minhash", mh, "overwrite")
    assert(probe(other, "minhash", mh).count() === 0)
    val lsh = tmp("session_lsh")
    IndexBuildOp(StageContext.one(other, other.createDataFrame(
        (0 until 20).map(i => (i.toLong, Seq.fill(8)((i % 5).toFloat + 0.5f))))
      .toDF("vec_id", "embedding"), Cfg.of(
      "type" -> "lsh", "path" -> lsh, "vector_column" -> "embedding",
      "num_planes" -> 16, "blocks" -> 4, "partition_dirs" -> 4)))
    assert(other.read.parquet(s"$lsh/corpus").count() === 80)
  }
}
