package graft.sources

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.config._
import graft.core._

/** Shared: optional declared schema. At 100 TB inference is a full extra
  * scan (SURVEY §1.2) — pipelines can pass `schema = "col type, col type"`
  * (Spark DDL string) or a registered table name from graft.Tables.
  */
object SchemaOpt {
  def resolve(cfg: Cfg): Option[StructType] =
    cfg.strOpt("schema").map { s =>
      graft.Tables.schemas.getOrElse(s,
        try DataType.fromDDL(s).asInstanceOf[StructType]
        catch { case e: Exception => throw new GraftConfigError(s"bad schema '$s': ${e.getMessage}") })
    }
}

/** csv.read — reference src/modules/sources/csv.rs:85-123. Config: path
  * (req), headers=true, delimiter=",". The reference parses but ignores
  * infer_schema_length; we honor real inference unless a schema is declared.
  */
object CsvSource extends Stage {
  val name = "csv.read"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val reader = ctx.spark.read
      .option("header", cfg.boolOr("headers", true))
      .option("sep", cfg.strOr("delimiter", ","))
    val withSchema = SchemaOpt.resolve(cfg) match {
      case Some(s) => reader.schema(s)
      case None    => reader.option("inferSchema", true)
    }
    withSchema.csv(cfg.str("path"))
  }
}

/** json.read — reference src/modules/sources/json.rs:80-131. Formats:
  * records (JSON array → multiLine), jsonl (NDJSON), dataframe
  * (column-oriented {"col": [v...]}).
  */
object JsonSource extends Stage {
  val name = "json.read"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    val path = cfg.str("path")
    val reader = SchemaOpt.resolve(cfg) match {
      case Some(s) => ctx.spark.read.schema(s)
      case None    => ctx.spark.read
    }
    cfg.strOr("format", "records") match {
      case "records" => reader.option("multiLine", true).json(path)
      case "jsonl"   => reader.json(path)
      case "dataframe" =>
        // column-oriented single JSON object: {"a": [1,2], "b": ["x","y"]}
        // Tiny-config-file shape; parse on driver, explode to rows.
        import ctx.spark.implicits._
        // driver-side read through the GraftFs seam (tiny config-shaped
        // file), so scheme-qualified paths resolve like every other source
        val txt = graft.core.GraftFs.readString(path)
        val obj = ctx.spark.read.option("multiLine", true).json(Seq(txt).toDS)
        val cols = obj.columns.sorted
        val arrZip = F.arrays_zip(cols.map(F.col): _*)
        val exploded = obj.select(F.explode(arrZip).alias("_r"))
        exploded.select(cols.map(c => F.col(s"_r.$c").alias(c)): _*)
      case other => throw new GraftConfigError(s"unknown json format '$other'")
    }
  }
}

/** parquet.read — native extension (the reference has no parquet source;
  * mandatory for an analytics engine — self-describing schema, column
  * pruning + predicate pushdown reach the scan). The schema Spark would
  * infer in a one-stage job is read from the same footer on the driver
  * where it can be (graft.operators.ParquetSchema).
  */
object ParquetSource extends Stage {
  val name = "parquet.read"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame =
    graft.operators.ParquetSchema.read(ctx.spark, Seq(ctx.cfg.str("path")))
}

/** table.read — load a table: `name` reads from the session catalog
  * (incl. bucketed tables written by table.write — bucket metadata makes
  * later joins exchange-free); `dir` + `table` reads the driver test data
  * through graft.Tables.load. */
object TableSource extends Stage {
  val name = "table.read"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame =
    ctx.cfg.strOpt("name") match {
      case Some(n) => ctx.spark.table(n)
      case None    => graft.Tables.load(ctx.spark, ctx.cfg.str("dir"), ctx.cfg.str("table"))
    }
}

/** stdin.read — batch-read all of stdin on the driver; formats
  * json/jsonl/csv/raw (reference src/modules/sources/stdin.rs:79-153).
  * Driver-side by nature (stdin exists only there); rows then distribute.
  */
object StdinSource extends Stage {
  val name = "stdin.read"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame = {
    import ctx.spark.implicits._
    val cfg = ctx.cfg
    val lines = scala.io.Source.stdin.getLines().toSeq
    cfg.strOr("format", "json") match {
      case "json" =>
        ctx.spark.read.option("multiLine", true).json(Seq(lines.mkString("\n")).toDS)
      case "jsonl" =>
        ctx.spark.read.json(lines.toDS)
      case "csv" =>
        val header = cfg.boolOr("headers", true)
        val sep = cfg.strOr("delimiter", ",")
        ctx.spark.read.option("header", header).option("sep", sep)
          .option("inferSchema", true).csv(lines.toDS)
      case "raw" =>
        val bytes = lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Seq(bytes).toDF("raw")
      case other => throw new GraftConfigError(s"unknown stdin format '$other'")
    }
  }
}

/** inline.data — test/fixture source: rows declared in the pipeline config
  * as a jsonl string (our extension; replaces the reference's habit of
  * pointing tests at temp files).
  */
object InlineSource extends Stage {
  val name = "inline.data"
  val kind = StageKind.Source
  def apply(ctx: StageContext): DataFrame = {
    import ctx.spark.implicits._
    val jsonl = ctx.cfg.str("jsonl")
    val reader = SchemaOpt.resolve(ctx.cfg) match {
      case Some(s) => ctx.spark.read.schema(s)
      case None    => ctx.spark.read
    }
    reader.json(jsonl.split('\n').toSeq.toDS)
  }
}
