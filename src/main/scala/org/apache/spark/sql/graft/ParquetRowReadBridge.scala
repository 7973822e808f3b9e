package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Bridge into the `private[sql]` parquet read machinery for the DSv2
  * storage-partitioned-join source ([[graft.sources.SpjSourceProvider]]):
  * builds the same serializable `PartitionedFile => rows` closure Spark's
  * own `FileSourceScanExec` ships to executors, so the SPJ scan reads
  * parquet with the stock (vectorized, codegen'd) reader rather than a
  * hand-rolled one.
  */
object ParquetRowReadBridge {

  /** A serializable `(path, fileSize) => Iterator[InternalRow]` over files
    * of `schema`, built on the driver and safe to capture in a
    * `PartitionReaderFactory`. Not cheap: every call broadcasts the session
    * Hadoop conf (about a thousand properties, each gzipped by
    * `Configuration.write`), so callers build each reader once per planned
    * scan, not once per use.
    */
  def rowReader(spark: SparkSession, schema: StructType,
      options: Map[String, String],
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil):
      (String, Long) => Iterator[InternalRow] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    // resolve columns by field id whatever the session set: a session that
    // only queries through the catalog never ran `SparkRead.configure`, and
    // by-name resolution would read renamed columns as null. A requested id
    // absent from a file reads null (the Iceberg absent-column semantic)
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, true)
    hadoopConf.setBoolean(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.key, true)
    // returning_batch=false: rows even under the vectorized reader — the
    // DSv2 row-based PartitionReader consumes InternalRows
    val opts = options + (org.apache.spark.sql.execution.datasources.FileFormat
      .OPTION_RETURNING_BATCH -> "false")
    val build = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, schema, new StructType(), schema, filters.toSeq, opts, hadoopConf)
    (path: String, len: Long) => {
      val pf = PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
        0L, len, Array.empty[String], 0L, len, Map.empty)
      // the vectorized reader yields ColumnarBatch disguised as InternalRow
      // (Spark's own columnar-scan hack); unwrap to rows either way
      build(pf).flatMap { x =>
        (x: Any) match {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r: InternalRow   => Iterator.single(r)
        }
      }
    }
  }

  /** Like [[rowReader]], but each row carries its in-file ROW POSITION as a
    * trailing long column — the parquet readers materialize Spark's
    * temporary row-index column natively (row-group offsets honored), which
    * is what positional-delete / deletion-vector application filters on.
    */
  def rowReaderWithPos(spark: SparkSession, schema: StructType,
      options: Map[String, String],
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil):
      (String, Long) => Iterator[InternalRow] = {
    // the column must be NULLABLE (the reader tolerates it missing from the
    // file only then) and named with the temporary marker; the row-index
    // generator then fills it with absolute in-file positions
    val withPos = StructType(schema.fields :+ org.apache.spark.sql.types.StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true))
    rowReader(spark, withPos, options, filters)
  }
}
