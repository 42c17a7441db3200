package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads that start no Spark job, for the tiny sidecars
  * an index directory carries (meta rows, centroids, flags) and for the
  * schema of a log whose files are already listed.
  *
  * `spark.read.parquet(dir)` pays two jobs for a one-row sidecar: one to
  * infer the schema from a footer and one to collect. Here the footer is
  * read in-process and the files go through the reader Spark's own scan
  * tasks use ([[ParquetFileFormat]]), so the rows, their types and the
  * schema are the ones `spark.read.parquet(dir).collect()` returns. Errors
  * propagate: a truncated or corrupt file throws, as it does in a scan.
  */
object LocalParquet {

  /** The data schema Spark infers from one parquet file's footer (the
    * serialized Spark schema when the writer stored one), made nullable as
    * every file-source read is.
    */
  def schema(spark: SparkSession, file: String): StructType = {
    val path = new Path(file)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(path, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.NO_FILTER)
    graft.internal.SqlBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(path, footer),
      new ParquetToSparkSchemaConverter(graft.internal.SqlBridge.sqlConf(spark))))
  }

  /** Every row of the parquet directory `dir`, with its schema, in
    * part-file path order. Reads the files `spark.read.parquet(dir)` reads
    * (not hidden, not an in-flight `._COPYING_` upload, not empty) and
    * takes the schema from the first of them by path, the file Spark's
    * non-merging schema inference picks. A directory without data files,
    * or with a non-hidden subdirectory (a partitioned layout, which
    * sidecars never use), is refused.
    */
  def read(spark: SparkSession, dir: String): Array[Row] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val visible = path.getFileSystem(conf).listStatus(path).filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
    }
    require(!visible.exists(_.isDirectory),
      s"$dir holds a subdirectory — not a flat parquet sidecar")
    val parts = visible.filter(_.getLen > 0).sortBy(_.getPath.toString)
    require(parts.nonEmpty, s"no parquet data file under $dir")
    val schema = this.schema(spark, parts.head.getPath.toString)
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), new Configuration(conf))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    parts.flatMap { st =>
      val rows = readFile(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(st), 0L,
        st.getLen, Array.empty[String], st.getModificationTime, st.getLen))
      try rows.map(r => toRow(r).asInstanceOf[Row]).toArray
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
}
