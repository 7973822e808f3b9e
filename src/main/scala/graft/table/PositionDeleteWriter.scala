package graft.table

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.{ParquetRowReadBridge, ParquetRowWriteBridge, RowFileWriter}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.format.{DataFile, DataFileContent, DeletionVector, PositionBitmap, Puffin}

/** One delete artifact a task wrote: a DV blob inside a puffin file (v3 —
  * `offset`/`length` set) or a parquet positional-delete file (v2).
  * `dataFiles` are the data files its positions point at: one for a DV,
  * one or more for a parquet file.
  */
final case class PositionDeleteMsg(path: String, format: String,
    dataFiles: Seq[String], offset: Option[Long], length: Option[Long],
    count: Long)

/** The one writer that turns deleted (data file, position) pairs into
  * delete files (reference position-delete writer
  * `table/transaction.go:2121-2339`, `table/dv/dv_writer.go`). Every
  * positional-delete write goes through it: SQL merge-on-read DELETE,
  * UPDATE and MERGE ([[graft.sources.GraftDeltaWriter]]),
  * [[Writer.deleteWhereMoR]] / [[Writer.deleteWhereDV]] and
  * [[Maintenance.rewritePositionDeleteFiles]].
  *
  * Built on the driver by [[PositionDeleteWriter.apply]], shipped to the
  * tasks, and called once per task with that task's (data file → bitmap)
  * map. Each data file's positions must reach exactly one task. `apply`
  * picks the format.
  *
  *  - DVs (v3, or beside a prior DV): each file's new bitmap ORs in the file's prior DV and, when
  *    `priorPosFiles` holds them, its parquet positional deletes — a DV
  *    supersedes both at read time, so skipping the fold would resurrect
  *    rows. One puffin file per task, one blob per data file.
  *  - parquet (v2 otherwise): one (file_path, pos)-ordered file per task, additive
  *    (readers union positional-delete files, no fold). A file covering a
  *    single data file records it as `referenced_data_file`.
  */
final class PositionDeleteWriter private (
    location: String, tableProps: Map[String, String], val useDv: Boolean,
    priorDvs: Map[String, (String, Long, Long)],
    priorPosFiles: Map[String, Seq[(String, Long)]],
    posFileReader: Option[(String, Long) => Iterator[InternalRow]],
    parquetWriter: Option[String => RowFileWriter]) extends Serializable {

  def write(positions: Iterable[(String, PositionBitmap)]): Seq[PositionDeleteMsg] = {
    val ordered = positions.toSeq.sortBy(_._1)
    if (ordered.isEmpty) Nil
    else if (useDv) {
      ordered.foreach { case (file, bm) => foldPrior(file, bm) }
      val path = Locations.newDataLocation(location, tableProps, "",
        s"dv-${UUID.randomUUID()}.puffin")
      val metas = Puffin.write(path, ordered.map { case (file, bm) =>
        (DeletionVector.BlobType, DeletionVector.serialize(bm), Map(
          "referenced-data-file" -> file,
          "cardinality" -> bm.cardinality.toString))
      })
      ordered.zip(metas).map { case ((file, bm), meta) =>
        PositionDeleteMsg(path, "PUFFIN", Seq(file),
          Some(meta.offset), Some(meta.length), bm.cardinality)
      }
    } else {
      val path = Locations.newDataLocation(location, tableProps, "",
        s"pos-delete-${UUID.randomUUID()}.parquet")
      val w = parquetWriter.get(path)
      var count = 0L
      val row = new GenericInternalRow(2)
      try ordered.foreach { case (file, bm) =>
        row.update(0, UTF8String.fromString(file))
        bm.positionsIterator.foreach { pos =>
          row.setLong(1, pos)
          w.write(row)
          count += 1
        }
      } finally w.close()
      Seq(PositionDeleteMsg(path, "PARQUET", ordered.map(_._1), None, None, count))
    }
  }

  private def foldPrior(file: String, bm: PositionBitmap): Unit = {
    priorDvs.get(file).foreach { case (p, off, len) =>
      bm.or(DeletionVector.deserialize(Puffin.readBlob(p, Puffin.BlobMetadata(
        DeletionVector.BlobType, Nil, -1, -1, off, len, Map.empty))))
    }
    priorPosFiles.get(file).foreach { files =>
      val want = graft.io.FileIO.canonical(file)
      files.foreach { case (p, len) =>
        posFileReader.get(p, len).foreach { r =>
          if (graft.io.FileIO.canonical(r.getUTF8String(0).toString) == want)
            bm.set(r.getLong(1))
        }
      }
    }
  }
}

object PositionDeleteWriter {

  private val PosDeleteSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** A writer for deletes against `tasks` (planned tasks of `table`), whose
    * attached delete files are the prior state a DV folds. It writes DVs
    * when `forceDv`, on v3 (which forbids new parquet positional deletes)
    * and whenever a task already carries a DV: the newest DV supersedes a
    * file's parquet positional deletes at read time, so a parquet delete
    * beside it would be lost. `foldParquet = false` when the caller's
    * positions already include the tasks' parquet positional deletes. The
    * parquet reader and writer are built only when used: each broadcasts
    * or ships the Hadoop conf.
    */
  def apply(spark: SparkSession, table: Table, tasks: Seq[FileScanTask],
      ioOptions: Map[String, String], forceDv: Boolean = false,
      foldParquet: Boolean = true): PositionDeleteWriter = {
    val useDv = forceDv || table.metadata.formatVersion >= 3 ||
      tasks.exists(_.posDeletes.exists(_.format == "PUFFIN"))
    val priorDvs = if (!useDv) Map.empty[String, (String, Long, Long)] else tasks
      .flatMap(t => t.posDeletes.filter(_.format == "PUFFIN").map(d =>
        t.file.path -> ((d.path, d.contentOffset.get, d.contentSize.get)))).toMap
    val priorPosFiles = if (!useDv || !foldParquet) Map.empty[String, Seq[(String, Long)]]
      else tasks.map(t => t.file.path ->
          t.posDeletes.filter(_.format != "PUFFIN").map(d => (d.path, d.fileSize)))
        .filter(_._2.nonEmpty).toMap
    new PositionDeleteWriter(table.location, table.metadata.properties, useDv,
      priorDvs, priorPosFiles,
      if (priorPosFiles.isEmpty) None
      else Some(ParquetRowReadBridge.rowReader(spark, PosDeleteSchema, ioOptions, Nil)),
      if (useDv) None
      else Some(ParquetRowWriteBridge.writerFactory(spark, PosDeleteSchema,
        Writer.taskWriteOptions(spark, table, ioOptions))))
  }

  /** Write a (data file, position) frame: positions fold into one bitmap
    * per data file map-side ([[PositionBitmapAgg]] — only compact bitmaps
    * cross the shuffle, never a position array), and each shuffle
    * partition's files go through `writer` as one task. `files` fixes the
    * partition count; otherwise it is `spark.sql.shuffle.partitions`.
    */
  def write(positions: DataFrame, writer: PositionDeleteWriter,
      files: Option[Int] = None): Seq[PositionDeleteMsg] = {
    import org.apache.spark.sql.functions.{col, udaf}
    val Seq(file, pos) = positions.columns.toSeq.map(col)
    val spread = files.fold(positions)(n => positions.repartition(n, file))
    spread.groupBy(file)
      .agg(udaf(PositionBitmapAgg, org.apache.spark.sql.Encoders.scalaLong)(pos))
      .rdd.mapPartitions(rows => writer.write(rows.map(r =>
        r.getString(0) -> PositionBitmap.deserialize(r.getAs[Array[Byte]](1))).toSeq).iterator)
      .collect().toSeq
  }

  /** The manifest entries for written delete artifacts. */
  def dataFiles(msgs: Seq[PositionDeleteMsg]): Seq[DataFile] = {
    val sizes = msgs.map(_.path).distinct.map(p => p -> graft.io.FileIO.size(p)).toMap
    msgs.map { m =>
      DataFile(DataFileContent.PositionDeletes, m.path, m.format,
        partition = Seq.empty, // global delete: unpartitioned spec (see Writer.commitSnapshot)
        recordCount = m.count, fileSize = sizes(m.path),
        referencedDataFile = m.dataFiles match {
          case Seq(only) => Some(only)
          case _ => None
        },
        contentOffset = m.offset, contentSize = m.length)
    }
  }

  /** Incremental position → bitmap accumulation: each input row sets one
    * bit in the partial buffer and buffers OR-merge across partitions.
    */
  private object PositionBitmapAgg
      extends org.apache.spark.sql.expressions.Aggregator[Long, PositionBitmap, Array[Byte]] {
    def zero: PositionBitmap = new PositionBitmap
    def reduce(b: PositionBitmap, pos: Long): PositionBitmap = { b.set(pos); b }
    def merge(a: PositionBitmap, b: PositionBitmap): PositionBitmap = { a.or(b); a }
    def finish(b: PositionBitmap): Array[Byte] = b.serialize()
    def bufferEncoder: org.apache.spark.sql.Encoder[PositionBitmap] =
      org.apache.spark.sql.Encoders.javaSerialization[PositionBitmap]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }
}
