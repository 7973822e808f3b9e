package graft.table

import org.apache.spark.sql.SparkSession

/** Which engine reads a planned task set — the one routing rule for every
  * read of planned tasks: [[SparkRead.readPlanned]] (behind
  * [[SparkRead.read]], Writer rewrites, compaction and the changelog) and
  * the SQL catalog's scan builder ([[graft.sources.SpjScanBuilder]]), whose
  * row-level form serves the candidate scans of SQL DELETE, UPDATE and
  * MERGE.
  *
  *  - [[ReadRoute.PerTask]]: the DSv2 [[graft.sources.SpjScan]] readers,
  *    which apply DV bitmaps, positional-delete sets and equality-key sets
  *    per task from executor LRU caches, and read a name-mapped (imported)
  *    file without field ids through the mapping. Every parquet read with a
  *    bounded equality-delete backlog takes it.
  *  - everything else reads through [[SparkRead.readTasks]], the anti-join
  *    pipeline: non-parquet data files, which the per-task parquet readers
  *    cannot open, and equality-delete backlogs over
  *    `spark.graft.eqDeleteFallbackBytes`, whose key sets would not fit in
  *    executor memory. The pipeline resolves parquet columns by field id
  *    alone, so on such a route the parquet files an import left without
  *    field ids ([[withoutFieldIds]]) still read per task, through the
  *    table's name mapping ([[SparkRead.readOffRoute]]); their
  *    equality-delete key sets load into executor memory as on the per-task
  *    route.
  *
  * [[SparkRead.matchedPositions]], which finds the rows a programmatic
  * merge-on-read delete removes, always reads per task, as a row-level
  * scan does.
  */
object ReadRoute {

  sealed abstract class Route(val name: String)
  case object PerTask extends Route("keyset")
  case object NonParquet extends Route("non-parquet")
  case object AntiJoin extends Route("anti-join")

  /** A route with the figures it was decided on: the task set's
    * equality-delete backlog (each file once) and the threshold it was
    * held against — the SQL builder reports both.
    */
  final case class Decision(route: Route, eqBytes: Long, fallbackBytes: Long)

  private val FallbackBytesConf = "spark.graft.eqDeleteFallbackBytes"
  private val FallbackBytesOption = "eq-delete-fallback-bytes"

  /** Σ distinct eq-delete file bytes above which a read abandons executor
    * key sets for the distributed anti-join. Key sets are O(delete bytes)
    * of executor memory per file — fine for the bounded CDC-upsert
    * pattern, an OOM for an uncompacted backlog. Read option
    * `eq-delete-fallback-bytes`, else the session conf; default 64 MB.
    */
  private def eqFallbackBytes(spark: SparkSession, options: Map[String, String]): Long =
    options.get(FallbackBytesOption).map(_.toLong).getOrElse(
      spark.conf.getOption(FallbackBytesConf).map(_.toLong)
        .getOrElse(64L * 1024 * 1024))

  /** `options`: the read's options (may carry `eq-delete-fallback-bytes`).
    * `positionMeta`: the read asks for `_file`/`_pos`/lineage metadata
    * columns through the SQL surface; `rowLevel`: the candidate scan of a
    * SQL DELETE, UPDATE or MERGE, which reads whole candidate files and
    * which Spark plans only over a DSv2 batch scan. Either keeps an
    * equality-delete backlog on the per-task route; only non-parquet files
    * leave it.
    */
  def choose(spark: SparkSession, tasks: Seq[FileScanTask],
      options: Map[String, String], positionMeta: Boolean = false,
      rowLevel: Boolean = false): Decision = {
    val eqBytes = tasks.flatMap(_.eqDeletes.map(_._1)).distinctBy(_.path).map(_.fileSize).sum
    val fallbackBytes = eqFallbackBytes(spark, options)
    val route =
      if (tasks.exists(!_.file.format.equalsIgnoreCase("PARQUET"))) NonParquet
      else if (eqBytes > fallbackBytes && !positionMeta && !rowLevel) AntiJoin
      else PerTask
    Decision(route, eqBytes, fallbackBytes)
  }

  /** The parquet tasks of `tasks` whose data file carries no field ids —
    * files an import registered, read through the table's name mapping.
    * Only a name-mapped table can hold them; its files are probed once
    * each ([[SparkRead.fieldIdPresence]]: cache hits plus one distributed
    * job for the misses).
    */
  def withoutFieldIds(spark: SparkSession, table: Table,
      tasks: Seq[FileScanTask]): Seq[FileScanTask] =
    if (!table.metadata.properties.contains(graft.format.NameMapping.PropertyKey)) Nil
    else {
      val parquet = tasks.filter(_.file.format.equalsIgnoreCase("PARQUET"))
      val hasIds = SparkRead.fieldIdPresence(spark, parquet.map(_.file.path).distinct)
      parquet.filterNot(t => hasIds(t.file.path))
    }
}
