package graft.table

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, UpdateSketch}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.format._

/** Table statistics operators (reference partition stats + Puffin
  * ndv/theta blobs, `table/statistics.go:26-100`; SURVEY §2 row 68): column
  * NDV sketches persisted to a Puffin statistics file registered in table
  * metadata, and a per-partition rollup parquet registered as the
  * partition-statistics file.
  *
  * NDV blobs are spec-format serialized compact theta sketches
  * (`apache-datasketches-theta-v1`, reference `puffin/puffin.go:54-80`),
  * built fully distributed by Spark's native `theta_sketch_agg` (partial
  * sketches per partition, merged by union — one pass, no row collect) and
  * readable by any engine carrying the Apache DataSketches library.
  * Pre-round-7 `graft-kmv-v1` blobs remain readable (dual-read).
  */
object Analyze {

  val NdvBlobType = "apache-datasketches-theta-v1"
  val LegacyKmvBlobType = "graft-kmv-v1"

  /** lg(nominal entries) for new sketches: 2^12 = 4096 entries ≈ 1.6%
    * relative error — the DataSketches default.
    */
  val DefaultLgK = 12

  /** theta_sketch_agg input domain: pass the supported types through
    * unchanged (hash-compatible with other engines' sketches over the same
    * values); anything else falls back to its string form — NDV stays
    * correct, only cross-engine merge compatibility narrows.
    */
  private def sketchInput(dt: DataType, c: Column): Column = dt match {
    case IntegerType | LongType | StringType | BinaryType => c
    case _ => c.cast(StringType)
  }

  /** NDV from a serialized blob of either wire format. */
  def ndvFromBlob(blobType: String, bytes: Array[Byte]): Long = blobType match {
    case NdvBlobType =>
      math.round(CompactSketch.heapify(Memory.wrap(bytes)).getEstimate)
    case LegacyKmvBlobType =>
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val n = bb.getInt
      val smallest = Array.fill(n)(bb.getLong)
      kmvEstimate(smallest, math.max(n, 1))
    case other =>
      throw new IllegalArgumentException(s"unknown NDV blob type: $other")
  }

  /** KMV estimate from the k smallest distinct 64-bit hashes. */
  def kmvEstimate(smallest: Array[Long], k: Int): Long = {
    if (smallest.length < k) smallest.length.toLong
    else {
      val kth = smallest.last
      // map signed long to [0,1): fraction of hash space covered by k values
      val frac = (kth.toDouble - Long.MinValue.toDouble) / math.pow(2, 64)
      if (frac <= 0) smallest.length.toLong
      else math.round((k - 1) / frac)
    }
  }

  /** Compute NDV sketches for `columns`, write one Puffin statistics file,
    * register it in table metadata (replacing any stats for the current
    * snapshot). Returns the updated table.
    */
  def computeNdv(spark: SparkSession, table: Table, columns: Seq[String],
      k: Int = 1024): Table = {
    val meta = table.metadata
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("no snapshot to analyze"))
    val df = SparkRead.read(spark, table.newScan)

    val lgK = 31 - Integer.numberOfLeadingZeros(math.max(16, k))
    // one distributed aggregate computes every column's sketch: per-task
    // partial sketches, union-merged — only the compact sketch bytes (≤ 8·2^lgK
    // per column) reach the driver
    val aggs = columns.map { c =>
      theta_sketch_agg(sketchInput(df.schema(c).dataType, col(c)), lgK).as(s"__sk_$c")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val blobs = columns.zipWithIndex.map { case (c, i) =>
      val fieldId = table.schema.findField(c).getOrElse(
        throw new IllegalArgumentException(s"no such column $c")).id
      val bytes = Option(row.getAs[Array[Byte]](i)).getOrElse(
        UpdateSketch.builder().build().compact().toByteArray)
      val ndv = ndvFromBlob(NdvBlobType, bytes)
      (fieldId, bytes, ndv)
    }

    val path = s"${Locations.metadataPath(meta.location, meta.properties)}/" +
      s"stats-${UUID.randomUUID()}.puffin"
    val metas = Puffin.writeBlobs(path, blobs.map { case (fieldId, bytes, ndv) =>
      Puffin.BlobSpec(NdvBlobType, bytes, Map("ndv" -> ndv.toString),
        fields = Seq(fieldId),
        snapshotId = snap.snapshotId, sequenceNumber = snap.sequenceNumber)
    })
    val statsFile = StatisticsFile(snap.snapshotId, path, graft.io.FileIO.size(path),
      blobs.zip(metas).map { case ((fieldId, _, ndv), _) =>
        StatsBlobMetadata(NdvBlobType, snap.snapshotId, snap.sequenceNumber,
          Seq(fieldId), Map("ndv" -> ndv.toString))
      })
    val updated = meta.copy(
      statistics = meta.statistics.filterNot(_.snapshotId == snap.snapshotId) :+ statsFile,
      lastUpdatedMs = System.currentTimeMillis())
    MetadataLogPolicy.commit(table, updated)
  }

  /** NDV estimates recorded for the current snapshot, per field id. */
  def ndvFor(table: Table): Map[Int, Long] = {
    val snapId = table.metadata.currentSnapshotId
    table.metadata.statistics
      .filter(st => snapId.contains(st.snapshotId))
      .flatMap(_.blobMetadata)
      .filter(b => b.blobType == NdvBlobType || b.blobType == LegacyKmvBlobType)
      .flatMap(b => b.fields.headOption.zip(b.properties.get("ndv").map(_.toLong)))
      .toMap
  }

  /** Write the spec partition-statistics file for the current snapshot: a
    * parquet of per-partition file/record/size rollups.
    */
  def computePartitionStats(spark: SparkSession, table: Table): Table = {
    val meta = table.metadata
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("no snapshot to analyze"))
    val rollup: DataFrame = Inspect.partitions(spark, table)
    val dir = s"${Locations.metadataPath(meta.location, meta.properties)}/" +
      s"partition-stats-${UUID.randomUUID()}"
    rollup.coalesce(1).write.parquet(dir)
    val file = graft.io.FileIO.listFilesRecursive(dir)
      .find(_.path.endsWith(".parquet")).get
    val updated = meta.copy(
      partitionStatistics = meta.partitionStatistics
        .filterNot(_.snapshotId == snap.snapshotId) :+
        PartitionStatisticsFile(snap.snapshotId, file.path, file.size),
      lastUpdatedMs = System.currentTimeMillis())
    MetadataLogPolicy.commit(table, updated)
  }
}
