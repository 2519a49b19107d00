package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}
import graft.config.Cfg
import graft.core.{GraftFs, GraftPlanError, StageContext}
import graft.streaming._

class StreamingSpec extends SparkSpec {

  test("relational transforms compose onto streaming frames; windowed agg with watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "k", "v")

    // compose registry transforms unchanged on the streaming frame
    val filtered = graft.operators.FilterOp(StageContext.one(spark, df, Cfg.of(
      "column" -> "v", "operator" -> ">", "value" -> 0)))
    val windowed = filtered
      .withWatermark("ts", "1 minute")
      .groupBy(F.window(F.col("ts"), "10 minutes"), F.col("k"))
      .agg(F.sum("v").alias("total"))

    val q = windowed.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      def t(m: String) = java.sql.Timestamp.valueOf(s"2026-01-01 10:$m:00")
      mem.addData((t("01"), "a", 1.0), (t("02"), "a", 2.0), (t("11"), "a", 4.0),
                  (t("03"), "b", -5.0), (t("04"), "b", 7.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, total FROM win_out ORDER BY k, total").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(rows == Seq(("a", 3.0), ("a", 4.0), ("b", 7.0)))
    } finally q.stop()
  }

  test("keyless streaming count window: kafka.stream → window.apply → aggregate.stream") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_kstream").toString
    // two produces = two deterministic segments (coalesce(1) → one file each)
    graft.operators.KafkaProduceSink(StageContext.one(spark,
      spark.range(0, 5).coalesce(1).selectExpr("id", "concat('u', id) AS name"),
      Cfg.of("path" -> root, "topic" -> "events")))
    graft.operators.KafkaProduceSink(StageContext.one(spark,
      spark.range(5, 10).coalesce(1).selectExpr("id", "concat('u', id) AS name"),
      Cfg.of("path" -> root, "topic" -> "events")))
    val src = graft.operators.KafkaStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> root, "topic" -> "events", "schema" -> "id LONG, name STRING"), "src"))
    // keyless tumbling window over the stream: per-batch sort on the log
    // offset makes the numbering deterministic for a fixed backlog
    val win = CountWindowOp(StageContext.one(spark, src, Cfg.of(
      "type" -> "tumbling", "size" -> 4, "order_by" -> Seq("_kafka_offset"))))
    val agg = AggregateStreamOp(StageContext.one(spark, win, Cfg.of(
      "operation" -> "count")))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = agg.writeStream.outputMode("complete").format("memory")
        .queryName("kstream_counts").start()
      try {
        q.processAllAvailable()
        val got = spark.sql("SELECT window_id, count FROM kstream_counts ORDER BY window_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got === Seq((0L, 4L), (1L, 4L), (2L, 2L)))
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming order_by rejects non-orderable column types at plan time") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // binary: byte[] is not Comparable — must fail at config time, not as a
    // ClassCastException inside the stateful processor mid-stream
    val mem = MemoryStream[(Long, Array[Byte])]
    val df = mem.toDF().toDF("id", "blob")
    val e = intercept[graft.config.GraftConfigError](CountWindowOp(StageContext.one(
      spark, df, Cfg.of("type" -> "tumbling", "size" -> 2, "order_by" -> Seq("blob")))))
    assert(e.getMessage.contains("binary"))
    // arrays (and any nested type) equally rejected
    val mem2 = MemoryStream[(Long, Seq[Long])]
    val df2 = mem2.toDF().toDF("id", "xs")
    val e2 = intercept[graft.config.GraftConfigError](CountWindowOp(StageContext.one(
      spark, df2, Cfg.of("type" -> "tumbling", "size" -> 2, "order_by" -> Seq("xs")))))
    assert(e2.getMessage.contains("non-orderable"))
    // atomic columns still pass plan-time validation
    CountWindowOp(StageContext.one(spark, df, Cfg.of(
      "type" -> "tumbling", "size" -> 2, "order_by" -> Seq("id"))))
  }

  test("file.stream source reads files exactly-once as they appear") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      "{\"id\": 1, \"v\": 10}\n{\"id\": 2, \"v\": 20}\n")
    val src = FileStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> dir, "format" -> "jsonl"), "src"))
    assert(src.isStreaming)
    val q = src.writeStream.outputMode("append").format("memory").queryName("file_out").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM file_out").head().getLong(0) == 2L)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.json"),
        "{\"id\": 3, \"v\": 30}\n")
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM file_out").head().getLong(0) == 3L)
    } finally q.stop()
  }

  test("session window over a stream (update-mode state)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "uid")
    val sess = df.withWatermark("ts", "10 minutes")
      .groupBy(F.session_window(F.col("ts"), "5 minutes"), F.col("uid"))
      .agg(F.count(F.lit(1)).alias("n"))
    val q = sess.writeStream.outputMode("complete").format("memory")
      .queryName("sess_out").start()
    try {
      def t(m: String) = java.sql.Timestamp.valueOf(s"2026-01-01 10:$m:00")
      mem.addData((t("00"), 1L), (t("03"), 1L), (t("20"), 1L))
      q.processAllAvailable()
      val ns = spark.sql("SELECT n FROM sess_out ORDER BY n").collect().map(_.getLong(0)).toSeq
      assert(ns == Seq(1L, 2L))
    } finally q.stop()
  }

  test("execution_mode=streaming runs fan-out stream sinks concurrently under one deadline") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smode").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      "{\"id\": 1, \"v\": 10}\n{\"id\": 2, \"v\": 20}\n{\"id\": 3, \"v\": -5}\n")
    val toml = s"""
      |[pipeline]
      |name = "smode"
      |[global]
      |execution_mode = "streaming"
      |stream_timeout_ms = 15000
      |[[stages]]
      |id = "src"
      |function = "file.stream"
      |config = { path = "$dir", format = "jsonl" }
      |[[stages]]
      |id = "pos"
      |function = "filter.apply"
      |inputs = ["src"]
      |config = { column = "v", operator = ">", value = 0 }
      |[[stages]]
      |id = "out_all"
      |function = "stream.write"
      |inputs = ["src"]
      |config = { format = "memory", query_name = "smode_all" }
      |[[stages]]
      |id = "out_pos"
      |function = "stream.write"
      |inputs = ["pos"]
      |config = { format = "memory", query_name = "smode_pos" }
      |""".stripMargin
    val t0 = System.currentTimeMillis()
    // both queries must progress — with sequential awaits the first sink
    // would consume the whole 15 s budget before the second even starts,
    // and the run would take >= 2 deadlines
    val poll = new Thread(() => {
      // stop both queries early once each has delivered its first batch,
      // so the test doesn't sit out the full deadline
      var done = false
      while (!done && System.currentTimeMillis() - t0 < 14000) {
        Thread.sleep(200)
        val qs = spark.streams.active.filter(q =>
          q.name == "smode_all" || q.name == "smode_pos")
        if (qs.size == 2 && qs.forall(_.recentProgress.exists(_.numInputRows > 0))) {
          qs.foreach(_.stop()); done = true
        }
      }
    }, "graft-smode-poll")
    poll.start()
    graft.core.DagCompiler.default.run(spark,
      graft.config.PipelineConfig.fromString(toml))
    poll.join()
    assert(spark.sql("SELECT count(*) FROM smode_all").head().getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM smode_pos").head().getLong(0) === 2L)
    assert(System.currentTimeMillis() - t0 < 15000,
      "concurrent streaming sinks should finish inside one deadline")
  }

  test("stream.ingest: kafka micro-batches dedup against and grow the index") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_k").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_ingest_idx").toString
    val indexed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    graft.operators.IndexBuildOp(StageContext.one(spark, indexed, Cfg.of(
      "type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
      "text_column" -> "text", "num_hashes" -> 64, "bands" -> 16, "seed" -> 7)))
    val n1 = "brand new streaming document with its own unique vocabulary choices"
    val n2 = "another different novel text unlike anything else ingested before now"
    // two produces → two segments → two micro-batches (max_files_per_trigger=1)
    graft.operators.KafkaProduceSink(StageContext.one(spark, Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of index 1
      (101L, n1)).toDF("doc_id", "text"),
      Cfg.of("path" -> root, "topic" -> "docs")))
    graft.operators.KafkaProduceSink(StageContext.one(spark, Seq(
      (200L, n1),  // dup of the OTHER micro-batch's survivor — needs the append
      (201L, n2)).toDF("doc_id", "text"),
      Cfg.of("path" -> root, "topic" -> "docs")))
    val stream = graft.operators.KafkaStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> root, "topic" -> "docs",
      "schema" -> "doc_id LONG, text STRING", "max_files_per_trigger" -> 1L)))
    val out = java.nio.file.Files.createTempDirectory("graft_ingest_out").toString + "/data"
    StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
      "path" -> out, "index_path" -> idx, "dedup" -> "minhash",
      "trigger" -> "available_now", "id_column" -> "doc_id",
      "text_column" -> "text", "threshold" -> 0.8)))
    val result = spark.read.parquet(out)
    // the index dup dropped; exactly one copy of each novel text survived
    // (micro-batch order decides WHICH id — either satisfies the dedup rule)
    assert(result.count() === 2)
    assert(result.select("text").as[String].collect().toSet === Set(n1, n2))
    // provenance: the two survivors came from two different micro-batches
    assert(result.select("ingest_batch").distinct().count() === 2)
    // the index grew: a follow-up BATCH dedup drops copies of both survivors
    val next = graft.operators.DedupMinHashOp(StageContext.one(spark,
      Seq((300L, n1), (301L, n2), (302L, "still completely fresh material never seen anywhere"))
        .toDF("doc_id", "text"),
      Cfg.of("id_column" -> "doc_id", "text_column" -> "text", "index_path" -> idx)))
    assert(next.select("doc_id").as[Long].collect().toSeq === Seq(302L))
    // per-batch observability: one _metrics JSON per micro-batch, and
    // ingest.stats totals them (rows in, survivors, duration spread)
    assert(graft.core.GraftFs.listNames(s"$out/_metrics")
      .count(n => n.startsWith("batch-") && n.endsWith(".json")) === 2)
    val stats = graft.operators.IngestStatsOp(StageContext.one(spark, result,
      Cfg.of("path" -> out))).head()
    assert(stats.getAs[Long]("metric_batches") === 2L)
    assert(stats.getAs[Long]("rows_in") === 4L)
    assert(stats.getAs[Long]("survivors") === 2L)
    assert(stats.getAs[Long]("max_batch_ms") >= 0L)
    assert(stats.getAs[Double]("mean_batch_ms") <=
      stats.getAs[Long]("max_batch_ms").toDouble)
  }

  test("stream.ingest dedup=ngram/simhash: the other text families stream too") {
    import spark.implicits._
    for ((family, buildCfg) <- Seq(
        ("ngram", Seq[(String, Any)]("ngram_size" -> 5, "bands" -> 8,
          "rows_per_band" -> 6, "seed" -> 7)),
        ("simhash", Seq.empty[(String, Any)]))) {
      val streamDir = java.nio.file.Files.createTempDirectory(s"graft_ing_$family").toString
      val idx = java.nio.file.Files.createTempDirectory(s"graft_ingidx_$family").toString
      val indexed = Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      ).toDF("doc_id", "text")
      graft.operators.IndexBuildOp(StageContext.one(spark, indexed, Cfg.of(
        (Seq[(String, Any)]("type" -> family, "path" -> idx,
          "id_column" -> "doc_id", "text_column" -> "text") ++ buildCfg): _*)))
      val novel = "wholly new streaming words never in the index at all"
      Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
          (101L, novel)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(streamDir)
      val stream = FileStreamSource(StageContext(spark, Seq.empty, Cfg.of(
        "path" -> streamDir, "format" -> "parquet")))
      val out = java.nio.file.Files.createTempDirectory(s"graft_ingout_$family").toString + "/data"
      StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
        "path" -> out, "index_path" -> idx, "dedup" -> family,
        "trigger" -> "available_now", "id_column" -> "doc_id",
        "text_column" -> "text", "threshold" -> 0.8)))
      val result = spark.read.parquet(out)
      assert(result.select("doc_id").as[Long].collect().toSeq === Seq(101L),
        s"$family: the index dup drops, the novel doc survives")
      // the survivor's signature joined the index
      val next = graft.core.Registry.withDefaults.resolve(s"dedup.$family")(
        StageContext.one(spark, Seq((300L, novel)).toDF("doc_id", "text"),
          Cfg.of("id_column" -> "doc_id", "text_column" -> "text", "index_path" -> idx)))
      assert(next.count() === 0, s"$family: the appended survivor dedups the next batch")
    }
  }

  test("stream.ingest retry idempotence: a re-run micro-batch re-lands, never duplicates") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_retry_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"),
      Cfg.of("type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "num_hashes" -> 64, "bands" -> 16, "seed" -> 7)))
    val batch = Seq((10L, "fresh words forming a genuinely novel streaming document"))
      .toDF("doc_id", "text")
    def runTagged(tag: String) = graft.operators.DedupMinHashOp(StageContext.one(
      spark, batch, Cfg.of("id_column" -> "doc_id", "text_column" -> "text",
        "index_path" -> idx, "index_append" -> true, "_stream_batch_tag" -> tag)))
    // first attempt: survivor lands in corpus/<tag>/
    assert(runTagged("sb-t-0").count() === 1)
    // RETRY of the same micro-batch (same tag): the probe excludes the
    // batch's own failed-attempt append — the doc must NOT self-match —
    // and the append overwrites rather than duplicates
    assert(runTagged("sb-t-0").count() === 1, "retry must not self-match its own append")
    val sigs = spark.read.option("recursiveFileLookup", "true").parquet(s"$idx/corpus")
    assert(sigs.filter(F.col("id") === 10L).count() === 1,
      "retry must overwrite its append dir, not duplicate it")
    // a LATER batch (different tag) sees the append and drops the dup
    val later = graft.operators.DedupMinHashOp(StageContext.one(spark,
      Seq((20L, "fresh words forming a genuinely novel streaming document"))
        .toDF("doc_id", "text"),
      Cfg.of("id_column" -> "doc_id", "text_column" -> "text",
        "index_path" -> idx, "_stream_batch_tag" -> "sb-t-1")))
    assert(later.count() === 0)
  }

  test("stream.sketch: merged per-batch summaries equal the one-pass batch top-k") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sketch_k").toString
    // two produces → two micro-batches, overlapping vocabularies
    val b1 = Seq((1L, "alpha alpha beta gamma"), (2L, "alpha beta beta delta"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "alpha gamma gamma gamma"), (4L, "epsilon beta alpha"))
      .toDF("doc_id", "text")
    graft.operators.KafkaProduceSink(StageContext.one(spark, b1,
      Cfg.of("path" -> root, "topic" -> "docs")))
    graft.operators.KafkaProduceSink(StageContext.one(spark, b2,
      Cfg.of("path" -> root, "topic" -> "docs")))
    val stream = graft.operators.KafkaStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> root, "topic" -> "docs",
      "schema" -> "doc_id LONG, text STRING", "max_files_per_trigger" -> 1L)))
    val out = java.nio.file.Files.createTempDirectory("graft_sketch_out").toString + "/sums"
    StreamSketchSink(StageContext.one(spark, stream, Cfg.of(
      "path" -> out, "trigger" -> "available_now",
      "column" -> "text", "tokenize" -> true, "capacity" -> 1000)))
    val sums = spark.read.parquet(out)
    assert(sums.select("ingest_batch").distinct().count() === 2,
      "each micro-batch persists its own summary partition")
    // same per-batch observability as stream.ingest
    val skStats = graft.operators.IngestStatsOp(StageContext.one(spark, sums,
      Cfg.of("path" -> out))).head()
    assert(skStats.getAs[Long]("metric_batches") === 2L)
    assert(skStats.getAs[Long]("rows_in") === 4L)
    assert(skStats.getAs[Long]("survivors") === sums.count())
    // merged streaming summaries ≡ one-pass batch top-k (exact regime)
    val merged = graft.operators.TopKMergeOp(StageContext(spark,
      Seq("s" -> sums), Cfg.of("k" -> 3)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val onePass = graft.operators.TopKOp(StageContext.one(spark, b1.unionByName(b2),
      Cfg.of("column" -> "text", "tokenize" -> true, "k" -> 3, "capacity" -> 1000)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(merged.toSeq === onePass.toSeq)
    assert(merged.head === ("alpha", 5L))
    // bad sketch config fails before the query starts (plan-time probe)
    val mem = { implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      MemoryStream[String].toDF() }
    intercept[GraftPlanError](StreamSketchSink(StageContext.one(spark, mem,
      Cfg.of("path" -> "/tmp/x", "column" -> "no_such_col"))))
  }

  test("stream.sketch group_by: grouped merged-streaming equals grouped one-pass batch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gsketch_k").toString
    // two micro-batches, two groups, overlapping vocabularies per group
    val b1 = Seq(("web", "alpha alpha beta"), ("web", "alpha gamma"),
      ("book", "delta delta epsilon")).toDF("src", "text")
    val b2 = Seq(("web", "beta beta alpha"), ("book", "delta zeta zeta"))
      .toDF("src", "text")
    graft.operators.KafkaProduceSink(StageContext.one(spark, b1,
      Cfg.of("path" -> root, "topic" -> "docs")))
    graft.operators.KafkaProduceSink(StageContext.one(spark, b2,
      Cfg.of("path" -> root, "topic" -> "docs")))
    val stream = graft.operators.KafkaStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> root, "topic" -> "docs",
      "schema" -> "src STRING, text STRING", "max_files_per_trigger" -> 1L)))
    val out = java.nio.file.Files.createTempDirectory("graft_gsketch_out").toString + "/sums"
    StreamSketchSink(StageContext.one(spark, stream, Cfg.of(
      "path" -> out, "trigger" -> "available_now",
      "column" -> "text", "tokenize" -> true, "capacity" -> 1000,
      "group_by" -> "src")))
    val sums = spark.read.parquet(out)
    assert(sums.select("ingest_batch").distinct().count() === 2)
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    // grouped merged streaming summaries ≡ grouped one-pass batch top-k
    val merged = canon(graft.operators.TopKMergeOp(StageContext(spark,
      Seq("s" -> sums), Cfg.of("k" -> 2)))
      .select("src", "term", "count").collect())
    val onePass = canon(graft.operators.TopKOp(StageContext.one(spark, b1.unionByName(b2),
      Cfg.of("column" -> "text", "tokenize" -> true, "k" -> 2, "capacity" -> 1000,
        "group_by" -> "src")))
      .select("src", "term", "count").collect())
    assert(merged === onePass)
    assert(merged.contains(("web", "alpha", 4L)) && merged.contains(("book", "delta", 3L)))
  }

  test("stream.ingest rejects batch input, unknown dedup kinds, and pigeonhole embedding") {
    intercept[GraftPlanError](StreamIngestSink(StageContext.one(spark, salesDf,
      Cfg.of("path" -> "/tmp/x", "index_path" -> "/tmp/y"))))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val sdf = mem.toDF()
    intercept[graft.config.GraftConfigError](StreamIngestSink(StageContext.one(spark, sdf,
      Cfg.of("path" -> "/tmp/x", "index_path" -> "/tmp/y", "dedup" -> "bogus"))))
    // missing index fails loud before the query starts
    intercept[GraftPlanError](StreamIngestSink(StageContext.one(spark, sdf,
      Cfg.of("path" -> "/tmp/x", "index_path" -> "/tmp/definitely_missing_idx"))))
    // dedup=embedding needs the BANDS layout: a pigeonhole lsh index has no
    // per-batch idempotent append target and fails loud before the query
    val pigeon = java.nio.file.Files.createTempDirectory("graft_pigeon_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
      Cfg.of("type" -> "lsh", "path" -> pigeon, "vector_column" -> "embedding",
        "num_planes" -> 16, "blocks" -> 4, "seed" -> 11)))
    val e = intercept[graft.config.GraftConfigError](StreamIngestSink(StageContext.one(
      spark, sdf, Cfg.of("path" -> "/tmp/x", "index_path" -> pigeon,
        "dedup" -> "embedding"))))
    assert(e.getMessage.contains("blocking=bands"))
  }

  test("stream.ingest dedup=embedding: micro-batches dedup against and grow the bands index") {
    import spark.implicits._
    def vec(i: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(4)(j => if (j == i) scale else 0f)
    val idx = java.nio.file.Files.createTempDirectory("graft_emb_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, vec(0)), (2L, vec(1))).toDF("vec_id", "embedding"),
      Cfg.of("type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "vector_column" -> "embedding", "bands" -> 4, "band_planes" -> 4,
        "seed" -> 11, "partition_dirs" -> 8)))
    // two single-file drops → two micro-batches (max_files_per_trigger=1).
    // Scaled copies defeat ExactCollapse: every drop goes through the
    // banded index probe itself.
    val streamDir = java.nio.file.Files.createTempDirectory("graft_emb_in").toString
    Seq((100L, vec(0, 2f)), (101L, vec(2)))      // dup of index 1 + novel
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(streamDir)
    Thread.sleep(400) // distinct mtimes pin micro-batch order
    Seq((200L, vec(2, 3f)), (201L, vec(3)))      // dup of batch-1 SURVIVOR + novel
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(streamDir)
    val stream = FileStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> streamDir, "format" -> "parquet", "max_files_per_trigger" -> 1L)))
    val out = java.nio.file.Files.createTempDirectory("graft_emb_out").toString + "/data"
    StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
      "path" -> out, "index_path" -> idx, "dedup" -> "embedding",
      "trigger" -> "available_now", "id_column" -> "vec_id",
      "vector_column" -> "embedding", "threshold" -> 0.95)))
    val result = spark.read.parquet(out)
    // cross-micro-batch dedup REQUIRES batch 1's append to be visible to
    // batch 2 — 200 must drop against 101's appended signature
    assert(result.select("vec_id").as[Long].collect().sorted.toSeq === Seq(101L, 201L))
    assert(result.select("ingest_batch").distinct().count() === 2)
    // micro-batch appends landed under their own ingest_tag partitions
    import scala.jdk.CollectionConverters._
    val tags = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/corpus"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("ingest_tag=")).toSet
    assert(tags.size === 3 && tags.contains("ingest_tag=base") &&
      tags.count(_.startsWith("ingest_tag=sb-")) === 2, tags.mkString(", "))
    // the index grew: a follow-up BATCH dedup drops copies of both survivors
    val next = graft.operators.DedupEmbeddingOp(StageContext.one(spark,
      Seq((300L, vec(2, 5f)), (301L, vec(3, 7f)), (302L, Array(1f, 1f, 1f, 1f)))
        .toDF("vec_id", "embedding"),
      Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "index_path" -> idx)))
    assert(next.select("vec_id").as[Long].collect().toSeq === Seq(302L))
  }

  test("stream.ingest dedup=embedding: per-micro-batch Spark-job count stays bounded") {
    // job count is the DRIVER-SIDE LATENCY FLOOR of a streaming operator:
    // every job is a scheduler round-trip regardless of data size. r11's
    // GateAudit measured ~42 jobs/batch on this path (AQE stage-jobs plus
    // the deferred append re-running the whole probe DAG); AQE-off
    // micro-batch sessions and the output read-back append cut it to ~10.
    // Bound at 20/batch — loose enough for plan drift, tight enough that
    // either regression (AQE back on in the batch session, or the append
    // recomputing the probe) trips it.
    import spark.implicits._
    def vec(i: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(4)(j => if (j == i) scale else 0f)
    val idx = java.nio.file.Files.createTempDirectory("graft_emb_jobs_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, vec(0)), (2L, vec(1))).toDF("vec_id", "embedding"),
      Cfg.of("type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "vector_column" -> "embedding", "bands" -> 4, "band_planes" -> 4,
        "seed" -> 11, "partition_dirs" -> 8)))
    val streamDir = java.nio.file.Files.createTempDirectory("graft_emb_jobs_in").toString
    Seq((100L, vec(0, 2f)), (101L, vec(2)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(streamDir)
    Thread.sleep(400)
    Seq((200L, vec(2, 3f)), (201L, vec(3)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(streamDir)
    val stream = FileStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> streamDir, "format" -> "parquet", "max_files_per_trigger" -> 1L)))
    val out = java.nio.file.Files.createTempDirectory("graft_emb_jobs_out").toString + "/data"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
        "path" -> out, "index_path" -> idx, "dedup" -> "embedding",
        "trigger" -> "available_now", "id_column" -> "vec_id",
        "vector_column" -> "embedding", "threshold" -> 0.95)))
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    // semantics unchanged by the job-count work
    assert(spark.read.parquet(out).select("vec_id").as[Long].collect().sorted.toSeq
      === Seq(101L, 201L))
    assert(jobs.get() <= 40,
      s"two micro-batches issued ${jobs.get()} Spark jobs (> 20/batch) — " +
      "the streaming latency floor regressed (AQE on in the batch session, " +
      "or the deferred append is re-running the probe DAG)")
  }

  /** A minhash index of two docs plus a file.stream over `files` (one
    * micro-batch per file, in order), ingested by stream.ingest into `out`
    * with `extra` sink config; returns (index path, output path). */
  private def ingestMinhash(prefix: String, files: Seq[Seq[(Long, String)]],
      extra: (String, Any)*): (String, String) = {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory(s"${prefix}_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark, Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text"),
      Cfg.of("type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "num_hashes" -> 64, "bands" -> 16, "seed" -> 7)))
    val streamDir = java.nio.file.Files.createTempDirectory(s"${prefix}_in").toString
    files.zipWithIndex.foreach { case (rows, i) =>
      if (i > 0) Thread.sleep(400) // distinct mtimes pin micro-batch order
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(streamDir)
    }
    val stream = FileStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> streamDir, "format" -> "parquet", "max_files_per_trigger" -> 1L)))
    val out = java.nio.file.Files.createTempDirectory(s"${prefix}_out").toString + "/data"
    StreamIngestSink(StageContext.one(spark, stream, Cfg.of(Seq[(String, Any)](
      "path" -> out, "index_path" -> idx, "dedup" -> "minhash",
      "trigger" -> "available_now", "id_column" -> "doc_id",
      "text_column" -> "text", "threshold" -> 0.8) ++ extra: _*)))
    (idx, out)
  }

  test("stream.ingest minhash: at most 5 Spark jobs per non-empty micro-batch") {
    // the per-batch budget: the survivors write (its broadcast and probe
    // jobs) and the index append's write. No emptiness/rows_in count, no
    // schema inference for the corpus snapshot or the append's read-back.
    import spark.implicits._
    val perBatch = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val described = "stream\\.ingest batch=(\\d+):.*".r
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .collect { case described(b) => b }
          .foreach(b => perBatch.merge(b, 1, (x: Integer, y: Integer) => x + y))
    }
    spark.sparkContext.addSparkListener(listener)
    val (_, out) = try {
      val r = ingestMinhash("graft_jobs_mh", Seq(
        Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
          (101L, "brand new streaming document with its own unique vocabulary choices")),
        Seq((200L, "brand new streaming document with its own unique vocabulary choices"),
          (201L, "another different novel text unlike anything else ingested before now")),
        Seq((300L, "a third batch of words that nobody has ingested into this index"))))
      Thread.sleep(1000) // listener bus drains asynchronously
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(101L, 201L, 300L))
    import scala.jdk.CollectionConverters._
    val jobs = perBatch.asScala.map { case (b, n) => b.toInt -> n.intValue }.toMap
    assert(jobs.keySet === Set(0, 1, 2), jobs.toString)
    assert(jobs.values.forall(_ <= 5), s"Spark jobs per micro-batch: $jobs")
  }

  test("stream.ingest: a zero-row micro-batch writes no partition, no metrics, no append") {
    // with AQE on in the micro-batch (batch_aqe) too: the rows_in count
    // must read the same through an adaptive plan
    for (aqe <- Seq(false, true)) {
      val (idx, out) = ingestMinhash("graft_empty_mb", Seq(
        Seq((100L, "brand new streaming document with its own unique vocabulary choices")),
        Seq.empty,
        Seq((300L, "another different novel text unlike anything else ingested before now"))),
        "batch_aqe" -> aqe)
      val parts = GraftFs.listDirNames(out).filter(_.startsWith("ingest_batch=")).toSet
      assert(parts === Set("ingest_batch=0", "ingest_batch=2"), s"aqe=$aqe")
      assert(GraftFs.listNames(s"$out/_metrics").filter(_.startsWith("batch-")).toSet ===
        Set("batch-0.json", "batch-2.json"), s"aqe=$aqe")
      // the corpus holds the build plus one append dir per non-empty batch
      val appends = GraftFs.listDirNames(graft.operators.IndexSnapshot.corpusDir(idx))
        .filter(_.startsWith("sb-")).map(_.split('-').last).toSet
      assert(appends === Set("0", "2"), s"aqe=$aqe")
      val stats = graft.operators.IngestStatsOp(StageContext.one(spark,
        spark.read.parquet(out), Cfg.of("path" -> out))).head()
      assert(stats.getAs[Long]("rows_in") === 2L, s"aqe=$aqe")
      assert(stats.getAs[Long]("survivors") === 2L, s"aqe=$aqe")
    }
  }

  test("stream.ingest dedup=embedding: every micro-batch's vectors are dim-checked") {
    // the check used to run once, on a one-row sample of micro-batch 0;
    // a later batch of the wrong dimension then probed with silently
    // mismatched signatures
    import spark.implicits._
    def vec(n: Int, i: Int): Array[Float] = Array.tabulate(n)(j => if (j == i) 1f else 0f)
    val idx = java.nio.file.Files.createTempDirectory("graft_emb_dim_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, vec(4, 0)), (2L, vec(4, 1))).toDF("vec_id", "embedding"),
      Cfg.of("type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "vector_column" -> "embedding", "bands" -> 4, "band_planes" -> 4,
        "seed" -> 11, "partition_dirs" -> 8)))
    val streamDir = java.nio.file.Files.createTempDirectory("graft_emb_dim_in").toString
    Seq((100L, vec(4, 2))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(streamDir)
    Thread.sleep(400)
    Seq((200L, vec(3, 0)), (201L, vec(3, 1))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(streamDir)
    val stream = FileStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> streamDir, "format" -> "parquet", "max_files_per_trigger" -> 1L)))
    val out = java.nio.file.Files.createTempDirectory("graft_emb_dim_out").toString + "/data"
    val e = intercept[Exception](StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
      "path" -> out, "index_path" -> idx, "dedup" -> "embedding",
      "trigger" -> "available_now", "id_column" -> "vec_id",
      "vector_column" -> "embedding", "threshold" -> 0.95))))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("have length 3") && msgs.contains("dim = 4"), msgs)
    // micro-batch 0 committed; micro-batch 1 wrote nothing
    assert(GraftFs.listDirNames(out).filter(_.startsWith("ingest_batch=")) ===
      Vector("ingest_batch=0"))
  }

  test("stream.ingest embedding: a restarted query resumes its checkpoint, not from scratch") {
    import spark.implicits._
    def vec(i: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(4)(j => if (j == i) scale else 0f)
    val idx = java.nio.file.Files.createTempDirectory("graft_emb_resume_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, vec(0))).toDF("vec_id", "embedding"),
      Cfg.of("type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "vector_column" -> "embedding", "bands" -> 4, "band_planes" -> 4,
        "seed" -> 11, "partition_dirs" -> 8)))
    val streamDir = java.nio.file.Files.createTempDirectory("graft_emb_resume_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_emb_resume_out").toString + "/data"
    def runOnce(): Unit = {
      val stream = FileStreamSource(StageContext(spark, Seq.empty, Cfg.of(
        "path" -> streamDir, "format" -> "parquet", "max_files_per_trigger" -> 1L)))
      StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
        "path" -> out, "index_path" -> idx, "dedup" -> "embedding",
        "trigger" -> "available_now", "id_column" -> "vec_id",
        "vector_column" -> "embedding", "threshold" -> 0.95)))
    }
    Seq((10L, vec(2))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    assert(spark.read.parquet(out).select("vec_id").as[Long].collect().toSeq === Seq(10L))
    // the query stopped; a later file arrives and the SAME checkpoint
    // resumes — only the new micro-batch processes, and it must dedup
    // against the FIRST run's index append (scaled copy of 10 drops)
    Seq((20L, vec(2, 4f)), (21L, vec(3))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()
    val rows = spark.read.parquet(out)
      .select("vec_id", "ingest_batch").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(10L, 21L))
    assert(rows.toMap.apply(21L) > rows.toMap.apply(10L),
      "the resumed run continues the batch sequence instead of reprocessing batch 0")
  }

  test("stream.ingest embedding retry idempotence: re-run re-lands its tag partitions") {
    import spark.implicits._
    def vec(i: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(4)(j => if (j == i) scale else 0f)
    val idx = java.nio.file.Files.createTempDirectory("graft_emb_retry").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, vec(0))).toDF("vec_id", "embedding"),
      Cfg.of("type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "vector_column" -> "embedding", "bands" -> 4, "band_planes" -> 4,
        "seed" -> 11, "partition_dirs" -> 8)))
    val batch = Seq((10L, vec(2))).toDF("vec_id", "embedding")
    def runTagged(tag: String) = graft.operators.DedupEmbeddingOp(StageContext.one(
      spark, batch, Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "index_path" -> idx, "index_append" -> true,
        "_stream_batch_tag" -> tag)))
    assert(runTagged("sb-e-0").count() === 1)
    // retry: the probe excludes the batch's own ingest_tag dirs (no
    // self-match) and the dynamic overwrite re-lands the same partitions
    assert(runTagged("sb-e-0").count() === 1, "retry must not self-match its own append")
    val sigs = spark.read.option("recursiveFileLookup", "true").parquet(s"$idx/corpus")
    assert(sigs.filter(F.col("vec_id") === 10L).count() === 4L, // once per band, once total
      "retry must overwrite its tag partitions, not duplicate them")
    // a LATER batch (different tag) sees the append and drops the dup
    val later = graft.operators.DedupEmbeddingOp(StageContext.one(spark,
      Seq((20L, vec(2, 9f))).toDF("vec_id", "embedding"),
      Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "index_path" -> idx, "_stream_batch_tag" -> "sb-e-1")))
    assert(later.count() === 0)
  }

  test("stream.ingest single-writer lease: a held index fails loud; stale leases reclaim") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lease_k").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_lease_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"),
      Cfg.of("type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "num_hashes" -> 64, "bands" -> 16, "seed" -> 7)))
    graft.operators.KafkaProduceSink(StageContext.one(spark,
      Seq((100L, "fresh streaming text with a unique vocabulary")).toDF("doc_id", "text"),
      Cfg.of("path" -> root, "topic" -> "docs")))
    val out = java.nio.file.Files.createTempDirectory("graft_lease_out").toString + "/data"
    def run(extra: (String, Any)*): Unit = {
      val stream = graft.operators.KafkaStreamSource(StageContext(spark, Seq.empty, Cfg.of(
        "path" -> root, "topic" -> "docs", "schema" -> "doc_id LONG, text STRING")))
      StreamIngestSink(StageContext.one(spark, stream, Cfg.of(Seq[(String, Any)](
        "path" -> out, "index_path" -> idx, "dedup" -> "minhash",
        "trigger" -> "available_now", "id_column" -> "doc_id",
        "text_column" -> "text", "threshold" -> 0.8) ++ extra: _*)))
    }
    // another live query (different checkpoint identity) holds the index
    graft.streaming.IngestLease.acquire(idx, "/other/checkpoint", "other_query",
      graft.streaming.IngestLease.StaleMsDefault)
    val e = intercept[GraftPlanError](run())
    assert(e.getMessage.contains("held by another live writer"))
    assert(e.getMessage.contains("other_query"), "error must name the holder")
    // the refused attempt must not have clobbered the holder's lease
    assert(graft.core.GraftFs.readString(s"$idx/ingest.lease")
      .contains("checkpoint=/other/checkpoint"))
    // a crashed holder: its heartbeat ages past lease_stale_ms → reclaimed
    Thread.sleep(30)
    run("lease_stale_ms" -> 10L)
    assert(spark.read.parquet(out).count() === 1L, "reclaimed run ingested the batch")
    // the completed run released its own lease on termination
    assert(!graft.core.GraftFs.exists(s"$idx/ingest.lease"))
    // same identity restarts instantly regardless of heartbeat age: the
    // default-stale acquire with the SAME checkpoint must not throw
    val ckpt = s"$out/_checkpoint"
    graft.streaming.IngestLease.acquire(idx, ckpt, "restart",
      graft.streaming.IngestLease.StaleMsDefault)
    graft.streaming.IngestLease.acquire(idx, ckpt, "restart",
      graft.streaming.IngestLease.StaleMsDefault)
    graft.streaming.IngestLease.release(idx, ckpt)
  }

  test("lease heartbeat is driver-side: a live-but-IDLE query holds its lease past lease_stale_ms") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_idle_k").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_idle_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"),
      Cfg.of("type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "num_hashes" -> 64, "bands" -> 16, "seed" -> 7)))
    graft.operators.KafkaProduceSink(StageContext.one(spark,
      Seq((100L, "fresh streaming text with a unique vocabulary")).toDF("doc_id", "text"),
      Cfg.of("path" -> root, "topic" -> "docs")))
    val out = java.nio.file.Files.createTempDirectory("graft_idle_out").toString + "/data"
    val ckpt = s"$out/_checkpoint"
    // generous staleness vs the staleMs/3 beat period: under full-suite
    // load the beat thread can be starved for hundreds of ms, and a
    // too-tight margin would let the thief legitimately reclaim
    val staleMs = 1500L
    val stream = graft.operators.KafkaStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> root, "topic" -> "docs", "schema" -> "doc_id LONG, text STRING")))
    StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
      "path" -> out, "index_path" -> idx, "dedup" -> "minhash",
      "trigger_ms" -> 50L, "lease_stale_ms" -> staleMs,
      "id_column" -> "doc_id", "text_column" -> "text", "threshold" -> 0.8,
      "_defer_await" -> true, "query_name" -> "idle_holder")))
    val q = spark.streams.active.find(_.name == "idle_holder")
      .getOrElse(fail("query did not start"))
    try {
      // drain the one available batch, then idle well past lease_stale_ms:
      // a ProcessingTime stream with no new data runs NO micro-batch (and
      // never enters foreachBatch), so only the driver-side scheduled beat
      // keeps the lease fresh — the old in-batch heartbeat went silent
      // here and the lease aged out while the query was still alive
      q.processAllAvailable()
      Thread.sleep(2 * staleMs)
      val e = intercept[GraftPlanError](graft.streaming.IngestLease.acquire(
        idx, "/other/ckpt", "thief", staleMs))
      assert(e.getMessage.contains("idle_holder"), "refusal names the live idle holder")
      assert(graft.streaming.IngestLease.beating(idx))
    } finally q.stop()
    graft.streaming.IngestLease.release(idx, ckpt)
    assert(!graft.streaming.IngestLease.beating(idx),
      "release stops the heartbeat task with the query")
    // holder gone → the slot reopens immediately for the next writer
    graft.streaming.IngestLease.acquire(idx, "/other/ckpt", "thief", staleMs)
    graft.streaming.IngestLease.release(idx, "/other/ckpt")
  }

  test("output paths are single-writer too: a second checkpoint on one dir fails loud") {
    import spark.implicits._
    import graft.streaming.IngestLease
    // micro-batch ids are per-checkpoint: two queries with different
    // checkpoints sharing an output dir would dynamically overwrite each
    // other's ingest_batch=<id> partitions — silent row LOSS (not even
    // duplicates), which is why the output carries its own lease
    val root = java.nio.file.Files.createTempDirectory("graft_outl_k").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_outl_idx").toString
    graft.operators.IndexBuildOp(StageContext.one(spark,
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"),
      Cfg.of("type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "num_hashes" -> 64, "bands" -> 16, "seed" -> 7)))
    graft.operators.KafkaProduceSink(StageContext.one(spark,
      Seq((100L, "fresh streaming text with a unique vocabulary")).toDF("doc_id", "text"),
      Cfg.of("path" -> root, "topic" -> "docs")))
    val out = java.nio.file.Files.createTempDirectory("graft_outl_out").toString + "/data"
    def run(): Unit = {
      val stream = graft.operators.KafkaStreamSource(StageContext(spark, Seq.empty, Cfg.of(
        "path" -> root, "topic" -> "docs", "schema" -> "doc_id LONG, text STRING")))
      StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
        "path" -> out, "index_path" -> idx, "dedup" -> "minhash",
        "trigger" -> "available_now", "id_column" -> "doc_id",
        "text_column" -> "text", "threshold" -> 0.8)))
    }
    // another live query (different checkpoint) holds the OUTPUT dir
    IngestLease.acquire(out, "/other/ckpt", "other_out_writer",
      IngestLease.StaleMsDefault, "stream.ingest output path", IngestLease.OutLeaseName)
    val e = intercept[GraftPlanError](run())
    assert(e.getMessage.contains("output path"))
    assert(e.getMessage.contains("other_out_writer"))
    // the index lease claimed before the failed output claim was released
    assert(!graft.core.GraftFs.exists(s"$idx/ingest.lease"))
    IngestLease.release(out, "/other/ckpt", IngestLease.OutLeaseName)
    // freed → the run completes, releases both leases, and the hidden
    // lease name never perturbs parquet reads of the output
    run()
    assert(spark.read.parquet(out).count() === 1L)
    assert(!graft.core.GraftFs.exists(s"$out/${IngestLease.OutLeaseName}"))
    assert(!graft.core.GraftFs.exists(s"$idx/ingest.lease"))
    // stream.sketch guards its summary output the same way
    IngestLease.acquire(out, "/other/ckpt", "sketcher",
      IngestLease.StaleMsDefault, "stream.sketch output path", IngestLease.OutLeaseName)
    val stream2 = graft.operators.KafkaStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> root, "topic" -> "docs", "schema" -> "doc_id LONG, text STRING")))
    val e2 = intercept[GraftPlanError](StreamSketchSink(StageContext.one(spark, stream2,
      Cfg.of("path" -> out, "trigger" -> "available_now", "column" -> "text",
        "tokenize" -> true, "capacity" -> 1000))))
    assert(e2.getMessage.contains("sketcher"))
    IngestLease.release(out, "/other/ckpt", IngestLease.OutLeaseName)
  }

  test("releasing a lease you never won is a no-op: a failed start cannot disarm the holder") {
    import graft.streaming.IngestLease
    // a second query whose claim is REFUSED still runs its cleanup; that
    // release must neither delete the holder's lease nor cancel the
    // holder's heartbeat (which would age the lease into a false reclaim)
    val idx = java.nio.file.Files.createTempDirectory("graft_norel").toString
    IngestLease.acquire(idx, "/ckpt/holder", "holder", 300L)
    assert(IngestLease.beating(idx))
    IngestLease.release(idx, "/ckpt/loser")
    assert(IngestLease.beating(idx), "holder's heartbeat survives a foreign release")
    assert(graft.core.GraftFs.readString(s"$idx/ingest.lease").contains("/ckpt/holder"))
    IngestLease.release(idx, "/ckpt/holder")
    assert(!IngestLease.beating(idx))
    assert(!graft.core.GraftFs.exists(s"$idx/ingest.lease"))
  }

  test("the heartbeat is a liveness court: dead writers release, deposed writers stop") {
    import graft.streaming.IngestLease
    // bounded poll, not a fixed sleep: under full-suite load the shared
    // beat thread can be starved well past one nominal period
    def within(ms: Long)(cond: => Boolean): Boolean = {
      val deadline = System.nanoTime() + ms * 1000000L
      var ok = cond
      while (!ok && System.nanoTime() < deadline) { Thread.sleep(50); ok = cond }
      ok
    }
    // a writer that stopped WITHOUT release (direct-mode callers whose
    // cleanup registrar discards) must not be kept fresh by its own beat
    // forever — the beat notices the dead liveness probe and releases
    val idx1 = java.nio.file.Files.createTempDirectory("graft_court1").toString
    IngestLease.acquire(idx1, "/ckpt/dead", "dead_query", 300L)
    IngestLease.bindLiveness(idx1, () => false, () => ())
    assert(within(10000)(!IngestLease.beating(idx1)),
      "beat released the dead writer's lease")
    assert(!graft.core.GraftFs.exists(s"$idx1/ingest.lease"))
    IngestLease.acquire(idx1, "/ckpt/next", "next", 300L) // slot reopened
    IngestLease.release(idx1, "/ckpt/next")
    // a holder whose stale-aged lease was reclaimed while it was stalled
    // must be STOPPED, not left writing leaseless alongside the new holder
    val idx2 = java.nio.file.Files.createTempDirectory("graft_court2").toString
    @volatile var stopped = false
    IngestLease.acquire(idx2, "/ckpt/old", "old_query", 300L)
    IngestLease.bindLiveness(idx2, () => true, () => { stopped = true })
    // simulate the reclaim: the lease now names a different checkpoint
    graft.core.GraftFs.writeString(s"$idx2/ingest.lease",
      "checkpoint=/ckpt/thief\nquery=thief\nowner=elsewhere/1")
    assert(within(10000)(stopped), "deposed writer's onLost hook fired")
    assert(!IngestLease.beating(idx2), "deposed writer's beat cancelled")
    // the thief's lease was NOT clobbered or deleted
    assert(graft.core.GraftFs.readString(s"$idx2/ingest.lease")
      .contains("checkpoint=/ckpt/thief"))
  }

  test("batch appenders and index.compact share the single-writer lease") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_blease_idx").toString
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    graft.operators.IndexBuildOp(StageContext.one(spark, docs, Cfg.of(
      "type" -> "exact", "path" -> idx, "columns" -> Seq("text"))))
    // a live stream holds the index → the batch append's deferred fire and
    // a compact both fail loud naming the holder
    graft.streaming.IngestLease.acquire(idx, "/stream/ckpt", "live_stream",
      graft.streaming.IngestLease.StaleMsDefault)
    // index.stats surfaces the live holder (the maintenance-pipeline view)
    val held = graft.operators.IndexStatsOp(StageContext.one(spark, docs,
      Cfg.of("path" -> idx))).select("lease_holder", "lease_age_ms").head()
    assert(held.getString(0).contains("live_stream"))
    assert(!held.isNullAt(1) && held.getLong(1) >= 0L)
    val e1 = intercept[GraftPlanError](graft.operators.DedupExactOp(StageContext.one(spark,
      Seq((10L, "gamma")).toDF("doc_id", "text"),
      Cfg.of("columns" -> Seq("text"), "index_path" -> idx, "index_append" -> true))))
    assert(e1.getMessage.contains("held by another live writer"))
    assert(e1.getMessage.contains("live_stream"))
    val e2 = intercept[GraftPlanError](graft.operators.IndexCompactOp(StageContext.one(
      spark, docs, Cfg.of("path" -> idx))))
    assert(e2.getMessage.startsWith("index.compact"))
    assert(e2.getMessage.contains("live_stream"))
    graft.streaming.IngestLease.release(idx, "/stream/ckpt")
    // …and the reverse: while a (simulated) batch writer holds the lease,
    // a stream.ingest start is refused — batch and stream block each other
    graft.streaming.IngestLease.acquire(idx, "batch:index_append:test", "index_append",
      graft.streaming.IngestLease.StaleMsDefault, "index_append")
    val e3 = intercept[GraftPlanError](graft.streaming.IngestLease.acquire(
      idx, "/some/stream", "q", graft.streaming.IngestLease.StaleMsDefault))
    assert(e3.getMessage.contains("index_append"))
    graft.streaming.IngestLease.release(idx, "batch:index_append:test")
    // sequential use is unaffected: append, compact, probe — and every
    // short-lived lease releases its file
    graft.operators.DedupExactOp(StageContext.one(spark,
      Seq((10L, "gamma"), (11L, "alpha")).toDF("doc_id", "text"),
      Cfg.of("columns" -> Seq("text"), "index_path" -> idx, "index_append" -> true)))
    graft.operators.IndexCompactOp(StageContext.one(spark, docs, Cfg.of("path" -> idx)))
    val probe = graft.operators.DedupExactOp(StageContext.one(spark,
      Seq((20L, "gamma"), (21L, "delta")).toDF("doc_id", "text"),
      Cfg.of("columns" -> Seq("text"), "index_path" -> idx)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(probe === Seq(21L), "appended key survived the compact; probe unchanged")
    assert(!graft.core.GraftFs.exists(s"$idx/ingest.lease"), "batch leases always release")
    val free = graft.operators.IndexStatsOp(StageContext.one(spark, docs,
      Cfg.of("path" -> idx))).select("lease_holder").head()
    assert(free.isNullAt(0), "stats report a free index as lease_holder = null")
  }

  test("stream.write reads trigger_ms as an integer, like stream.ingest") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trigger").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      "{\"id\": 1, \"v\": 10}\n{\"id\": 2, \"v\": 20}\n")
    val src = FileStreamSource(StageContext(spark, Seq.empty, Cfg.of(
      "path" -> dir, "format" -> "jsonl"), "src"))
    StreamWriteSink(StageContext.one(spark, src, Cfg.of("format" -> "memory",
      "query_name" -> "trigger_out", "trigger_ms" -> 50L, "_defer_await" -> true)))
    val q = spark.streams.active.find(_.name == "trigger_out").get
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM trigger_out").head().getLong(0) === 2L)
    } finally q.stop()
  }

  test("stream.write rejects batch input; gap connectors raise actionable errors") {
    intercept[GraftPlanError](StreamWriteSink(StageContext.one(spark, salesDf, Cfg.empty)))
    val e = intercept[GraftPlanError](graft.operators.KafkaConsumeSource(
      StageContext(spark, Seq.empty,
        Cfg.of("brokers" -> "b:9092", "topic" -> "t", "group_id" -> "g"), "k")))
    assert(e.getMessage.contains("spark-sql-kafka"))
    // config contract enforced even in live-broker (jar-gapped) mode
    intercept[graft.config.GraftConfigError](graft.operators.KafkaConsumeSource(
      StageContext(spark, Seq.empty, Cfg.of("topic" -> "t"), "k")))
  }
}
