package graft.io

import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema-enforced readers and the date-partitioned writer for the raw
  * landing zone — the engine side of the reference's S3 layout
  * `{deployment_id}/{YYYYMMDD}/{file_type}.json` (K1, `export.py:89-108`).
  *
  * Reads never infer schemas (stability under unknown passthrough fields —
  * SURVEY Q9); writes are partitioned by (deployment_id, ingest_date) with
  * dynamic partition overwrite, reproducing K1's deterministic-key
  * idempotency (W6: a same-day rerun overwrites that day's partition and
  * only that partition) — unlike the reference, failures raise instead of
  * being silently swallowed (Q3 is deliberately NOT replicated).
  */
object LandingZone {

  /** Deployment seam: map the reference's S3 config block
    * (`config.ini.example`; consumed at `export.py:68-73,89-108` via
    * boto3) onto Hadoop s3a properties, so every reader/writer here works
    * unchanged against `s3a://bucket/...` paths. Endpoint may be blank
    * (AWS-default); a custom endpoint (MinIO/on-prem) also switches on
    * path-style access, which such endpoints require.
    *
    * Returns the landing root URI for the configured bucket.
    */
  def configure(spark: SparkSession, cfg: graft.sources.NessusConfig): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.access.key", cfg.s3AccessKey)
    hc.set("fs.s3a.secret.key", cfg.s3SecretKey)
    if (cfg.s3Region.nonEmpty) hc.set("fs.s3a.endpoint.region", cfg.s3Region)
    if (cfg.s3Endpoint.nonEmpty) {
      hc.set("fs.s3a.endpoint", cfg.s3Endpoint)
      hc.set("fs.s3a.path.style.access", "true")
    }
    // bounded retries instead of the reference's silent try/except (Q3)
    hc.setIfUnset("fs.s3a.attempts.maximum", "5")
    hc.setIfUnset("fs.s3a.retry.limit", "5")
    s"s3a://${cfg.s3Bucket}"
  }

  /** Read one landed document type across all deployments/days. The
    * partition columns materialize from the directory layout under `root`,
    * typed as strings. The root itself is the path read, not a glob over
    * the partition dirs: Spark's file-sink metadata probe takes a glob as a
    * literal path and logs a FileNotFoundException on every read. A missing
    * root fails the read.
    */
  def read(spark: SparkSession, root: String, schema: StructType): DataFrame =
    spark.read
      .schema(
        schema
          .add("deployment_id", "string")
          .add("ingest_date", "string"))
      .option("basePath", root)
      .json(root)

  def readScanRunDocs(spark: SparkSession, root: String): DataFrame =
    read(spark, root, Schemas.scanRunDoc)

  /** K1/W6/W7: land docs partitioned by (deployment_id, ingest_date),
    * overwriting only the partitions present in `docs` (dynamic mode).
    */
  def write(docs: DataFrame, root: String): Unit =
    docs.write
      .partitionBy("deployment_id", "ingest_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .json(root)

  /** K3/Q10: folder/scan snapshots are written only when `newRuns` is
    * non-empty, unless `snapshotAlways` (the export_last_month behavior).
    */
  def writeSnapshots(
      snapshots: DataFrame,
      newRuns: DataFrame,
      root: String,
      snapshotAlways: Boolean): Boolean = {
    val doWrite = snapshotAlways || !newRuns.isEmpty
    if (doWrite) write(snapshots, root)
    doWrite
  }

  /** Stamp docs with today's landing partition (C5: yyyyMMdd compact day). */
  def stamped(docs: DataFrame, deploymentId: String): DataFrame =
    docs
      .withColumn("deployment_id", lit(deploymentId))
      .withColumn("ingest_date", date_format(current_date(), "yyyyMMdd"))

  /** Small-file compaction for a warehouse/landing parquet directory: the
    * maintenance job every object-store deployment needs once daily
    * incremental writes accumulate (each micro-ingest lands its own files;
    * a year of dailies = thousands of tiny objects, and scan cost on S3 is
    * per-request). Rewrites `srcDir` into `destDir` with
    * ceil(totalBytes / targetBytes) output files.
    *
    * Sizing comes from a filesystem LISTING (metadata-only), not from
    * reading the data twice; the rewrite itself is one pass with a
    * `repartition` — a full shuffle, which is correct here: compaction IS
    * the act of re-laying-out bytes, and `coalesce` instead would collapse
    * the read parallelism of the single pass. Write-to-new-location (no
    * in-place overwrite of an actively-read dir) is deliberate: the
    * caller swaps atomically (rename / pointer flip) after success.
    *
    * Returns the number of output partitions.
    */
  def compact(
      spark: SparkSession,
      srcDir: String,
      destDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val path = new org.apache.hadoop.fs.Path(srcDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs
      .listStatus(path)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getLen)
      .sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    spark.read
      .parquet(srcDir)
      .repartition(n)
      .write
      .mode(SaveMode.Overwrite)
      .parquet(destDir)
    n
  }

  /** S8 input: enumerate landed partitions as reference-shaped S3 keys
    * `{deployment_id}/{YYYYMMDD}/{file_type}.json` (export.py:75-87), from a
    * layout `root/{file_type}/deployment_id=X/ingest_date=Y`. Listing is a
    * metadata-only operation against the store (driver-side, like the
    * reference's bucket list); the watermark itself is computed relationally
    * by [[graft.etl.Incremental.watermarks]].
    */
  def listKeys(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keys =
      if (!fs.exists(rootPath)) Seq.empty[String]
      else
        Option(
          fs.globStatus(
            new org.apache.hadoop.fs.Path(root, "*/deployment_id=*/ingest_date=*")))
          .map(_.toSeq)
          .getOrElse(Seq.empty)
          .map { st =>
            val p = st.getPath
            val date = p.getName.stripPrefix("ingest_date=")
            val dep = p.getParent.getName.stripPrefix("deployment_id=")
            val fileType = p.getParent.getParent.getName
            s"$dep/$date/$fileType.json"
          }
    keys.toDF("key")
  }
}
