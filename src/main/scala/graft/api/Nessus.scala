package graft.api

import graft.etl.{Normalize, NessusWarehouse}
import graft.queries.ScanQueries
import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** User-facing facade: everything a user of the reference deployment runs
  * today, on Spark.
  *
  *  - `Nessus.load` is the S3→warehouse loader the reference implies but
  *    never shipped (SURVEY §0): formatted scan-run docs + folder/scan
  *    snapshots → the 7 relational tables as parquet.
  *  - `new Nessus(spark, dir)` serves the four stored procedures
  *    (`CALL get_scan_stats/get_scan_results/get_folder_stats/
  *    get_folder_results` → methods of the same names and parameters,
  *    emitting the reference's exact 14/32-column orders).
  */
final class Nessus(spark: SparkSession, warehouseDir: String) {

  private def table(name: String, schema: org.apache.spark.sql.types.StructType) =
    spark.read.schema(schema).parquet(s"$warehouseDir/$name")

  lazy val warehouse: NessusWarehouse = NessusWarehouse(
    folder = table("folder", Schemas.folder),
    scan = table("scan", Schemas.scan),
    scanRun = table("scan_run", Schemas.scanRun),
    host = table("host", Schemas.host),
    hostVuln = table("host_vuln", Schemas.hostVuln),
    plugin = table("plugin", Schemas.plugin),
    vulnOutput = table("vuln_output", Schemas.vulnOutput))

  /** `CALL get_scan_stats(sid, offset)`. */
  def getScanStats(sid: Long, offset: Int = 0): DataFrame =
    ScanQueries.scanStats(warehouse, sid, offset)

  /** `CALL get_scan_results(sid, offset)`. */
  def getScanResults(sid: Long, offset: Int = 0): DataFrame =
    ScanQueries.scanResults(warehouse, sid, offset)

  /** `CALL get_folder_stats(fid, offset)`. */
  def getFolderStats(fid: Long, offset: Int = 0): DataFrame =
    ScanQueries.folderStats(warehouse, fid, offset)

  /** `CALL get_folder_results(fid, pid, offset)` — pid optional (F5). */
  def getFolderResults(fid: Long, pid: Option[Long] = None, offset: Int = 0): DataFrame =
    ScanQueries.folderResults(warehouse, fid, pid, offset)

  /** Cross-client rollup (reference README.md:16-20): scan_run's landed
    * deployment_uuid joined to the operator-maintained `scaner_deployments`
    * table. Requires a warehouse loaded from landed docs (where the landing
    * partition supplies deployment_uuid) plus [[Nessus.loadDeployments]].
    */
  def getClientResults(): DataFrame =
    ScanQueries.clientResults(
      table("scan_run", Schemas.scanRunDep),
      table("scaner_deployments", Schemas.scanerDeployment))
}

object Nessus {

  /** Normalize formatted scan-run docs + folder/scan snapshots into the 7
    * warehouse tables at `warehouseDir`, one overwrite per table and no
    * read-back, so re-running a load over the same input leaves every table
    * as it was. Docs are deduplicated on (scan_id, history_id) first — W4's
    * by-design cross-day duplicates end here (keep the newest ingest_date
    * when present). The deduplicated docs are persisted for the five
    * run-derived writes, so the landed JSON is parsed and deduplicated
    * once per load, not once per table. The persisted plan keeps AQE's
    * coalescing of its last shuffle, as the same plan uncached would:
    * Spark's default pins a cached plan's output at
    * `spark.sql.shuffle.partitions`, which would land `scan_run` (no
    * shuffle of its own) in more, smaller files, each read by every CALL.
    */
  def load(
      spark: SparkSession,
      scanRunDocs: DataFrame,
      folderSnapshot: DataFrame,
      scanSnapshot: DataFrame,
      warehouseDir: String): Unit = {

    val docs =
      if (scanRunDocs.columns.contains("ingest_date"))
        graft.etl.Incremental.dedupLatest(
          scanRunDocs,
          Seq("scan_id", "history_id"),
          Seq(col("ingest_date").desc))
      else scanRunDocs.dropDuplicates("scan_id", "history_id")

    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$warehouseDir/$name")

    write(Normalize.folder(folderSnapshot), "folder")
    write(Normalize.scan(scanSnapshot), "scan")
    persistCoalesced(spark, docs)
    try {
      write(Normalize.scanRun(docs), "scan_run")
      write(Normalize.host(docs), "host")
      write(Normalize.hostVuln(docs), "host_vuln")
      write(Normalize.plugin(docs), "plugin")
      write(
        Normalize.vulnOutput(docs).select("vuln_output_id", "host_vuln_id", "port", "output"),
        "vuln_output")
    } finally docs.unpersist(blocking = false)
  }

  /** `df.persist(MEMORY_AND_DISK)`, planned with AQE free to coalesce the
    * cached plan's output partitions. The flag is read when the cached plan
    * is built (at `persist`), so it is set for that call only.
    */
  private def persistCoalesced(spark: SparkSession, df: DataFrame): Unit = {
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try df.persist(StorageLevel.MEMORY_AND_DISK)
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Load the operator-maintained `scaner_deployments` table (reference
    * README.md:16-20; rows are created by hand per scanner install — there
    * is no API source for it). Input must match
    * [[graft.schema.Schemas.scanerDeployment]]'s columns.
    */
  def loadDeployments(deployments: DataFrame, warehouseDir: String): Unit =
    deployments
      .select(Schemas.scanerDeployment.fieldNames.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .parquet(s"$warehouseDir/scaner_deployments")
}
