package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one reader of a saved index's tables (`postings`, `df`, `doclen`,
  * `assigned`, `pq_books`, `opq_rot`, a sink's `pairs`, ...), returning
  * what `spark.read.parquet(s"$dir/$name")` returns without the schema
  * inference job that read starts before its query runs. An index table
  * is written once with one schema, so its layout is read from one
  * footer, never rediscovered.
  *
  *   - A driver-sized table (`pq_books`, `opq_rot`, a cache's `rows`),
  *     which every caller collects anyway, is read whole through
  *     [[LocalParquet]] into a local relation: no job at all.
  *   - Any other table is read with `spark.read.schema(<footer schema>)`.
  *     The footer is that of the first data file by path, the file
  *     non-merging inference picks ([[LocalParquet.dataFiles]]).
  *     Partition columns (`bucket`, `cell`, `batch`) are still discovered
  *     from the paths, so their types, partition pruning and pushdown are
  *     the inferred read's.
  *
  * A table without a data file is refused, naming its directory.
  */
private[graft] object IndexTable {

  private val driverSized = Set("pq_books", "opq_rot", "rows")

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val table = s"$dir/$name"
    if (driverSized(name)) {
      val (schema, rows) = LocalParquet.table(spark, table)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } else {
      val files = LocalParquet.dataFiles(spark, table, nested = true)
      require(files.nonEmpty, s"no parquet data file under $table")
      spark.read.schema(LocalParquet.schema(spark, files.head.getPath.toString)).parquet(table)
    }
  }
}
