package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.util.Using

/** Parquet files written and measured on the driver through parquet-hadoop,
  * with no Spark job: the accounting snapshots ([[SnapshotMetaStorage]])
  * and the target tables' job partitions ([[TargetStore]]). A file carries
  * the columns a Spark write of the same schema carries, snappy-compressed,
  * so Spark reads it and a Spark-written file reads beside it.
  */
private[etl] object DriverParquet {

  /** Writes `rows` (in `schema`'s field order; a null cell is left unset)
    * as one new file at `file`. Columns must be bigint or string: anything
    * else throws before the file is created. */
  def write(conf: Configuration, file: Path, schema: StructType, rows: Iterable[Row]): Unit = {
    MetaStorage.requireSupported(schema)
    val fileSchema = new MessageType("spark_schema", schema.fields.map(parquetField): _*)
    Using.resource(ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
        .withConf(conf).withType(fileSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()) { writer =>
      rows.foreach { r =>
        val g = new SimpleGroup(fileSchema)
        schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
          if (schema(i).dataType == LongType) g.add(i, r.getLong(i)) else g.add(i, r.getString(i))
        }
        writer.write(g)
      }
    }
  }

  /** Rows in a parquet file, from its footer. */
  def rowCount(conf: Configuration, file: Path): Long =
    Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(file, conf)))(_.getRecordCount)

  /** The parquet column Spark writes for `f`, a bigint or string column: a
    * non-nullable field is `required`, a nullable one `optional`. */
  private def parquetField(f: StructField): Type = {
    val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
    if (f.dataType == LongType) Types.primitive(INT64, rep).named(f.name)
    else Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType()).named(f.name)
  }
}
