package graft.core

import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition

/** Driver-side parquet writer for the TINY index metadata tables (meta/,
  * centroids/, pq/ — one row to a few thousand narrow rows). Every index
  * build used to land these via `Seq(...).toDF.coalesce(1).write.parquet`,
  * which schedules a full Spark job (plan → one task → commit protocol,
  * ~0.05–0.1 s of fixed cost) to write a few hundred bytes the driver
  * already holds in memory — the inverse of guide §1.4: don't schedule a
  * job for what the driver can write directly (the same reasoning as
  * IndexSnapshot.footerRows on the read side). At ANY corpus scale these
  * tables stay bounded (meta is one row; centroids/pq are nlist / m·ksub
  * rows), so the driver write is scale-safe by construction.
  *
  * The file layout matches what the Spark write produced: one
  * `part-00000-<uuid>.snappy.parquet` and a `_SUCCESS` marker under `dir`,
  * standard 3-level LIST encoding for arrays — `spark.read.parquet` (IndexMeta.head,
  * the IvfIndex centroid and codebook loads) reads it back with
  * the identical Spark schema and the identical Row types. Overwrite
  * clears the dir first, same non-atomicity class as the
  * InsertIntoHadoopFsRelation overwrite it replaces.
  */
private[graft] object DriverParquet {

  /** One column of the little table: name, values (one per row), and the
    * parquet type mapping. The supported type set is exactly what the
    * index meta tables use. */
  sealed trait Col { def name: String; def size: Int }
  final case class I32(name: String, values: Seq[Int]) extends Col { def size = values.size }
  final case class I64(name: String, values: Seq[Long]) extends Col { def size = values.size }
  final case class Bool(name: String, values: Seq[Boolean]) extends Col { def size = values.size }
  final case class Str(name: String, values: Seq[String]) extends Col { def size = values.size }
  final case class DblArr(name: String, values: Seq[Seq[Double]]) extends Col { def size = values.size }
  final case class StrArr(name: String, values: Seq[Seq[String]]) extends Col { def size = values.size }

  private def field(c: Col): Type = c match {
    // scalars mirror Seq(tuple).toDF: primitives non-nullable, strings nullable
    case _: I32  => Types.required(PrimitiveTypeName.INT32).named(c.name)
    case _: I64  => Types.required(PrimitiveTypeName.INT64).named(c.name)
    case _: Bool => Types.required(PrimitiveTypeName.BOOLEAN).named(c.name)
    case _: Str  => Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(c.name)
    case _: DblArr => Types.optionalList()
      .element(Types.optional(PrimitiveTypeName.DOUBLE).named("element"))
      .named(c.name)
    case _: StrArr => Types.optionalList()
      .element(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("element"))
      .named(c.name)
  }

  /** Overwrite `dir` with one parquet file holding `cols` (all the same
    * length), then `_SUCCESS`. Pure driver work — no Spark job. */
  def overwrite(dir: String, cols: Seq[Col]): Unit = {
    require(cols.nonEmpty, "DriverParquet: no columns")
    val n = cols.head.size
    require(cols.forall(_.size == n),
      s"DriverParquet: ragged columns (${cols.map(c => s"${c.name}=${c.size}").mkString(", ")})")
    val schema = new MessageType("spark_schema", cols.map(field): _*)
    GraftFs.deleteRec(dir)
    GraftFs.mkdirs(dir)
    val file = s"$dir/part-00000-${java.util.UUID.randomUUID()}.snappy.parquet"
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), GraftFs.hadoopConf))
      .withConf(GraftFs.hadoopConf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      var i = 0
      while (i < n) {
        val g = new SimpleGroup(schema)
        cols.foreach {
          case I32(name, vs)  => g.add(name, vs(i))
          case I64(name, vs)  => g.add(name, vs(i))
          case Bool(name, vs) => g.add(name, vs(i))
          case Str(name, vs)  => if (vs(i) != null) g.add(name, vs(i))
          case DblArr(name, vs) =>
            val lst = g.addGroup(name)
            vs(i).foreach(v => lst.addGroup("list").add("element", v))
          case StrArr(name, vs) =>
            val lst = g.addGroup(name)
            vs(i).foreach(v => lst.addGroup("list").add("element", v))
        }
        writer.write(g)
        i += 1
      }
    } finally writer.close()
    // the commit marker, written only once the part file is complete — as
    // Spark's committer does; index-reuse checks key on `<table>/_SUCCESS`
    GraftFs.writeString(s"$dir/_SUCCESS", "")
  }
}
