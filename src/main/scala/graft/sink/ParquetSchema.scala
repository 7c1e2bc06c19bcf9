package graft.sink

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types._

/** The schema `spark.read.parquet` reports for a directory Spark wrote,
  * learned on the driver instead of through the reader's schema
  * inference, which is a Spark job per read. */
private[sink] object ParquetSchema {

  /** The key under which Spark's parquet writer stores the Spark schema
    * in each file's footer. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Spark's parquet reader makes every field, array element and map
    * value nullable, whatever the writer declared. */
  def asRead(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType    => asRead(s)
    case ArrayType(e, _)  => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other            => other
  }

  /** Reads directory schemas from one footer each. Build one per Hadoop
    * configuration and reuse it: its read options copy the whole
    * configuration. Footer-only reads open no codec, so the codec
    * release each reader's `close` makes on the shared options is a
    * no-op and the reader may be used from several threads. */
  final class FooterReader(conf: Configuration) {
    private val options = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()

    /** The read schema of a non-partitioned directory of Spark-written
      * parquet. None when it has no data file, has subdirectories (a
      * read would add their partition columns) or its footer carries no
      * Spark schema. */
    def schemaOf(dir: java.net.URI): Option[StructType] = {
      val path = new Path(dir)
      val entries = path.getFileSystem(conf).listStatus(path)
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      if (entries.exists(_.isDirectory)) None
      else entries.headOption.flatMap { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options)
        val json =
          try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
          finally reader.close()
        json.map(j => asRead(DataType.fromJson(j).asInstanceOf[StructType]))
      }
    }
  }
}
