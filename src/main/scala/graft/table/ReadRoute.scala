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
  *    per task from executor LRU caches. Every plain parquet read with a
  *    bounded equality-delete backlog takes it.
  *  - everything else reads through [[SparkRead.readTasks]], the anti-join
  *    pipeline: name-mapped (imported) tables, whose files may lack field
  *    ids or carry pre-rename names, unless a row-level scan reads them;
  *    non-parquet data files, which the per-task parquet readers cannot
  *    open; and equality-delete backlogs over
  *    `spark.graft.eqDeleteFallbackBytes`, whose key sets would not fit in
  *    executor memory.
  *
  * [[SparkRead.matchedPositions]], which finds the rows a programmatic
  * merge-on-read delete removes, always reads per task, as a row-level
  * scan does.
  */
object ReadRoute {

  sealed abstract class Route(val name: String)
  case object PerTask extends Route("keyset")
  case object NameMapping extends Route("name-mapping")
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
    * columns through the SQL surface; an equality-delete backlog keeps it
    * on the per-task route.
    * `rowLevel`: the candidate scan of a SQL DELETE, UPDATE or MERGE. It
    * reads whole candidate files, so an equality-delete backlog keeps it on
    * the per-task route, and so does a name mapping: the per-task readers
    * resolve a file without field ids through the mapping, and Spark plans
    * a copy-on-write rewrite only over a DSv2 batch scan, which the
    * anti-join pipeline is not. Only non-parquet files leave it.
    */
  def choose(spark: SparkSession, table: Table, tasks: Seq[FileScanTask],
      options: Map[String, String], positionMeta: Boolean = false,
      rowLevel: Boolean = false): Decision = {
    val eqBytes = tasks.flatMap(_.eqDeletes.map(_._1)).distinctBy(_.path).map(_.fileSize).sum
    val fallbackBytes = eqFallbackBytes(spark, options)
    val route =
      if (!rowLevel &&
          table.metadata.properties.contains(graft.format.NameMapping.PropertyKey)) NameMapping
      else if (tasks.exists(!_.file.format.equalsIgnoreCase("PARQUET"))) NonParquet
      else if (eqBytes > fallbackBytes && !positionMeta && !rowLevel) AntiJoin
      else PerTask
    Decision(route, eqBytes, fallbackBytes)
  }
}
