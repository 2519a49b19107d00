package graft.streaming

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.streaming.Trigger
import graft.config._
import graft.core._

/** Structured Streaming sources/sinks — the real streaming path (reference
  * §2.4 infra + the two sources it documents but never registers,
  * stdin_stream.rs / file_watch.rs, SURVEY §2.1).
  *
  * Streams here are ordinary streaming DataFrames: every relational
  * transform in the registry composes onto them unchanged, fan-out works
  * (the reference's consume-once Stream restriction disappears — logical
  * plans are replayable), and sinks become writeStream queries.
  */

/** file.stream — the honest Spark-native upgrade of the reference's
  * `file.watch` mtime-poller (file_watch.rs:69-150): Structured Streaming's
  * file source watches a DIRECTORY, exactly-once per file, with schema
  * declared (required by streaming) or inferred from existing files.
  * Formats: jsonl, json, text, csv, parquet.
  */
object FileStreamSource extends Stage {
  val name = "file.stream"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val path = cfg.str("path")
    val fmt = cfg.strOr("format", "jsonl")
    val schema = graft.sources.SchemaOpt.resolve(cfg).getOrElse {
      // streaming needs a schema: bootstrap one from the files already there
      fmt match {
        case "jsonl" | "json" => ctx.spark.read.json(path).schema
        case "csv" => ctx.spark.read.option("header", cfg.boolOr("headers", true))
          .option("inferSchema", true).csv(path).schema
        case "text" => new org.apache.spark.sql.types.StructType()
          .add("line", org.apache.spark.sql.types.StringType)
        case "parquet" => ctx.spark.read.parquet(path).schema
        case other => throw new GraftConfigError(s"unknown stream format '$other'")
      }
    }
    val reader = ctx.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", cfg.longOr("max_files_per_trigger", 10L))
    fmt match {
      case "jsonl" | "json" => reader.json(path)
      case "csv" => reader.option("header", cfg.boolOr("headers", true)).csv(path)
      case "text" => reader.text(path).withColumnRenamed("value", "line")
      case "parquet" => reader.parquet(path)
      case other => throw new GraftConfigError(s"unknown stream format '$other'")
    }
  }
}

/** rate.stream — deterministic load-generator source (rows/sec with
  * `timestamp` + `value` columns); the test/bench harness the reference
  * lacks entirely. */
object RateStreamSource extends Stage {
  val name = "rate.stream"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame =
    ctx.spark.readStream.format("rate")
      .option("rowsPerSecond", ctx.cfg.longOr("rows_per_second", 100L))
      .load()
}

/** stdin.stream — line-by-line stdin as a stream (reference
  * stdin_stream.rs:56-119, documented-but-unregistered). A driver thread
  * pumps stdin lines into a MemoryStream; per-line parse formats jsonl/text
  * (csv naive split → field_N columns, matching the reference).
  */
object StdinStreamSource extends Stage {
  val name = "stdin.stream"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val t = new Thread(() => {
      scala.io.Source.stdin.getLines().foreach(l => mem.addData(l))
    }, "graft-stdin-pump")
    t.setDaemon(true)
    t.start()
    val lines = mem.toDF().withColumnRenamed("value", "line")
    ctx.cfg.strOr("format", "jsonl") match {
      case "text" => lines
      case "jsonl" =>
        val schemaStr = ctx.cfg.strOpt("schema").getOrElse(
          throw new GraftConfigError("stdin.stream format=jsonl requires a declared 'schema' (streaming cannot infer)"))
        val schema = org.apache.spark.sql.types.DataType.fromDDL(schemaStr)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        lines.select(F.from_json(F.col("line"), schema).alias("r")).select("r.*")
      case "csv" =>
        val n = ctx.cfg.longOr("num_fields", 4L).toInt
        val parts = F.split(F.col("line"), ctx.cfg.strOr("delimiter", ","))
        lines.select((0 until n).map(i => parts.getItem(i).alias(s"field_$i")): _*)
      case other => throw new GraftConfigError(s"unknown stdin.stream format '$other'")
    }
  }
}

/** stream.write — terminal stage for streaming pipelines (subsumes the
  * reference's stdout_stream.write:69-200 and adds file/memory sinks):
  * format console|memory|parquet|csv|json, output mode append|update|
  * complete, optional processing-time trigger, bounded run via
  * `timeout_ms` (await that long, then stop — how batch-style CLI runs
  * terminate) or run-forever with awaitTermination.
  */
object StreamWriteSink extends Stage {
  val name = "stream.write"
  val kind = StageKind.Sink
  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val df = ctx.primary
    if (!df.isStreaming)
      throw new GraftPlanError("stream.write requires a streaming input; use stdout.write for batch")
    var w = df.writeStream
      .outputMode(cfg.strOr("output_mode", "append"))
      .queryName(cfg.strOr("query_name", s"graft_${ctx.stageId}"))
    cfg.longOpt("trigger_ms").foreach(ms => w = w.trigger(Trigger.ProcessingTime(ms)))
    cfg.strOpt("checkpoint").foreach(p => w = w.option("checkpointLocation", p))
    val q = cfg.strOr("format", "console") match {
      case "console" => w.format("console")
        .option("numRows", cfg.longOr("limit", 20L)).option("truncate", false).start()
      case "memory" => w.format("memory").start()
      case fmt @ ("parquet" | "csv" | "json") =>
        w.format(fmt).option("path", cfg.str("path"))
          .option("checkpointLocation", cfg.strOpt("checkpoint").getOrElse(cfg.str("path") + "/_checkpoint"))
          .start()
      case other => throw new GraftConfigError(s"unknown stream sink format '$other'")
    }
    // Under global execution_mode = "streaming" the DagCompiler injects
    // _defer_await: every stream sink STARTS here, and the compiler awaits
    // them all together (concurrent queries, one shared deadline).
    if (!cfg.boolOr("_defer_await", false)) {
      cfg.longOpt("timeout_ms") match {
        case Some(ms) => q.awaitTermination(ms); q.stop()
        case None     => q.awaitTermination()
      }
    }
    df
  }
}
