package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's 7-table Nessus warehouse (reference `schema.sql:27-172`),
  * derived *deterministically* from the driver's TPC-H-ish parquet tables so
  * the DuckDB oracle can rebuild bit-identical tables from the CTEs in
  * [[NessusSynthSql]]. Every expression is integer arithmetic or a literal;
  * the only doubles (cvss scores) are `smallint/10.0`, which is the same IEEE
  * division in both engines.
  *
  * Surrogate-id determinism (SURVEY §7.5#4): `row_number` over a total order
  * covering every column that feeds derived values — rows identical on
  * (scan_run_id, line_no, plugin_id, nessus_host_id) are interchangeable, so
  * the output *set* is engine-independent even though the testdata has
  * duplicate (l_orderkey, l_linenumber) pairs.
  */
final case class NessusWarehouse(
    folder: DataFrame,
    scan: DataFrame,
    scanRun: DataFrame,
    host: DataFrame,
    hostVuln: DataFrame,
    plugin: DataFrame,
    vulnOutput: DataFrame)

object NessusSynth {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** A1 `calculate_severities` (reference `export.py:60-65`): weighted
    * count-by-ordinal severity pivot. One shuffle, partial aggregation free.
    *
    * @param legacy SURVEY Q1 bug-compat: the reference's `if vuln.get('severity')`
    *   truthiness skips severity-0 rows, so `info_count` is always 0. Fixed
    *   mode (default) counts them. Null severity is skipped in both modes.
    */
  def severityPivot(
      vulns: DataFrame,
      keys: Seq[String],
      countCol: Column = lit(1L),
      legacy: Boolean = false): DataFrame = {
    def bucket(sev: Int) =
      sum(when(col("severity") === sev, countCol).otherwise(lit(0L))).cast("long")
    val info = if (legacy) lit(0L) else bucket(0)
    vulns
      .groupBy(keys.map(col): _*)
      .agg(
        bucket(4).as("critical_count"),
        bucket(3).as("high_count"),
        bucket(2).as("medium_count"),
        bucket(1).as("low_count"),
        info.as("info_count"))
  }

  /** Partitioned surrogate-id base: ids are `parent_key * IdStride + rank
    * within parent`. Unique and deterministic like AUTO_INCREMENT, but the
    * rank window partitions on the parent key — parallel at any scale, no
    * single-partition global window, no extra pass for offsets (SURVEY
    * §7.5#4). IdStride bounds children per parent; 1e6 leaves headroom up to
    * ~9e12 parents in a long.
    */
  val IdStride = 1000000L

  /** The partitioned surrogate id of a row within its scan run:
    * `scan_run_id * IdStride + row_number() over (partition by scan_run_id
    * order by orderBy)`. The one id rule every run-derived table uses.
    */
  def runScopedId(orderBy: String*): Column =
    col("scan_run_id") * IdStride + row_number().over(
      Window.partitionBy("scan_run_id").orderBy(orderBy.map(col): _*))

  /** lineitem → (scan_run_id, nessus_host_id, plugin_id, line_no, rid).
    * rid ordering covers every column whose values flow downstream, so rows
    * identical on the full key are interchangeable and the output set is
    * engine-independent (the testdata has duplicate (orderkey, linenumber)
    * pairs).
    */
  def li(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(
        col("l_orderkey").cast("long").as("scan_run_id"),
        col("l_suppkey").cast("long").as("nessus_host_id"),
        col("l_partkey").cast("long").as("plugin_id"),
        col("l_linenumber").cast("long").as("line_no"))
      .withColumn("rid", runScopedId("line_no", "plugin_id", "nessus_host_id"))

  /** Warehouses are memoized per source dir and MATERIALIZED AS PARQUET in a
    * per-JVM temp dir — the same layout a 100 TB deployment uses (normalize
    * once, serve queries from columnar storage). Compared to cache()/
    * localCheckpoint, parquet re-reads are vectorized, plans are single-leaf,
    * and nothing occupies executor memory between queries (on-heap residency
    * of materialized tables GC-thrashed unrelated queries on the default 8g
    * driver: same query measured anywhere from 1 s to 41 s).
    */
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, NessusWarehouse]()

  def apply(spark: SparkSession, dir: String): NessusWarehouse =
    memo.computeIfAbsent(
      dir,
      _ => {
        val t0 = System.nanoTime()
        val key = Materialize.sourceKey(
          dir,
          Seq("region", "nation", "orders", "lineitem", "part"))
        lazy val w = build(spark, dir)
        def mat(df: => DataFrame, name: String): DataFrame =
          Materialize.getOrWrite(spark, key, name, df)
        val m = NessusWarehouse(
          mat(w.folder, "folder"),
          mat(w.scan, "scan"),
          mat(w.scanRun, "scan_run"),
          mat(w.host, "host"),
          mat(w.hostVuln, "host_vuln"),
          mat(w.plugin, "plugin"),
          mat(w.vulnOutput, "vuln_output"))
        System.err.println(
          f"[synth] warehouse ready for $dir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        m
      })

  /** The `nessusdb2.scaner_deployments` operational table (reference
    * README.md:16-20): deployment-UUID → client mapping, maintained by
    * operators per scanner install. Synthesized deterministically from
    * `customer` (40 deployments across 10 clients); `deployment_uuid` is
    * md5-derived so it is opaque-but-reproducible in both engines.
    */
  def scanerDeployments(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .filter(col("c_custkey") <= 40)
      .select(
        col("c_custkey").cast("long").as("scaner_deployment_id"),
        (col("c_custkey") % 10).cast("long").as("client_id"),
        col("c_name").as("location"),
        md5(concat(lit("dep:"), (col("c_custkey") % 40).cast("string")))
          .as("deployment_uuid"),
        when(col("c_custkey") % 2 === 0, lit("internal"))
          .otherwise(lit("external"))
          .as("scanner_type"),
        col("c_mktsegment").as("hardware"))

  /** Which deployment landed a given run, in the synthetic world: the same
    * opaque uuid scheme as [[scanerDeployments]] (in production this column
    * comes from the landing partition's deployment_id — see
    * [[Normalize.scanRun]]).
    */
  def runDeploymentUuid(runId: Column): Column =
    md5(concat(lit("dep:"), (runId % 40).cast("string")))

  private def build(spark: SparkSession, dir: String): NessusWarehouse = {
    val folder = t(spark, dir, "region").select(
      col("r_regionkey").cast("long").as("folder_id"),
      lit("custom").as("type"),
      col("r_name").as("name"))

    val scan = t(spark, dir, "nation").select(
      col("n_nationkey").cast("long").as("scan_id"),
      col("n_regionkey").cast("long").as("folder_id"),
      lit("local").as("type"),
      col("n_name").as("name"))

    val lineitems = li(spark, dir)

    val plugin = t(spark, dir, "part").select(
      col("p_partkey").cast("long").as("plugin_id"),
      (col("p_partkey") % 5).cast("long").as("severity"),
      col("p_name").as("name"),
      col("p_brand").as("family"),
      col("p_type").as("synopsis"),
      col("p_type").as("description"),
      lit("patch").as("solution"),
      ((col("p_partkey") % 100).cast("double") / 10.0).as("cvss_base_score"),
      ((col("p_partkey") % 101).cast("double") / 10.0).as("cvss3_base_score"),
      lit("AV:N/AC:L").as("cvss_vector"),
      lit("CVSS:3.0").as("cvss3_vector"),
      concat(lit("https://nvd.example/"), col("p_partkey").cast("string")).as("ref"),
      lit("2020/01/01").as("pub_date"),
      lit("2021/01/01").as("mod_date"))

    val hostVuln = lineitems.select(
      col("rid").as("host_vuln_id"),
      col("nessus_host_id"),
      col("scan_run_id"),
      col("plugin_id"))

    val vulnOutput = lineitems.select(
      col("rid").as("vuln_output_id"),
      col("rid").as("host_vuln_id"),
      concat(col("line_no").cast("string"), lit(" / tcp")).as("port"),
      concat(lit("output-"), col("plugin_id").cast("string")).as("output"))

    val hvSev = hostVuln.join(plugin.select("plugin_id", "severity"), Seq("plugin_id"))
    val hostSev = severityPivot(hvSev, Seq("scan_run_id", "nessus_host_id"))
    val runSev = severityPivot(hvSev, Seq("scan_run_id"))

    val runKeys = t(spark, dir, "orders").select(
      col("o_orderkey").cast("long").as("scan_run_id"),
      (col("o_custkey") % 25).cast("long").as("scan_id"),
      // parquet timestamp (NTZ) → epoch seconds; session TZ is UTC, so this
      // matches DuckDB's naive epoch_ms(o_orderdate)//1000 bit-for-bit.
      col("o_orderdate").cast("timestamp").cast("long").as("scan_start"),
      (col("o_orderdate").cast("timestamp").cast("long") + col("o_orderkey") % 3600)
        .cast("long")
        .as("scan_end"))

    val runHosts = lineitems
      .groupBy("scan_run_id")
      .agg(countDistinct("nessus_host_id").cast("long").as("host_count"))

    val scanRun = runKeys
      .join(runHosts, Seq("scan_run_id"), "left")
      .join(runSev, Seq("scan_run_id"), "left")
      .select(
        col("scan_run_id"),
        col("scan_id"),
        col("scan_start"),
        col("scan_end"),
        lit(null).cast("string").as("targets"),
        coalesce(col("host_count"), lit(0L)).as("host_count"),
        coalesce(col("critical_count"), lit(0L)).as("critical_count"),
        coalesce(col("high_count"), lit(0L)).as("high_count"),
        coalesce(col("medium_count"), lit(0L)).as("medium_count"),
        coalesce(col("low_count"), lit(0L)).as("low_count"),
        coalesce(col("info_count"), lit(0L)).as("info_count"))

    val host = lineitems
      .select("scan_run_id", "nessus_host_id")
      .distinct()
      .withColumn("host_id", runScopedId("nessus_host_id"))
      .join(runKeys.select("scan_run_id", "scan_id"), Seq("scan_run_id"))
      .join(hostSev, Seq("scan_run_id", "nessus_host_id"))
      .select(
        col("host_id"),
        col("nessus_host_id"),
        col("scan_run_id"),
        col("scan_id"),
        concat(
          lit("10.0."),
          (col("nessus_host_id") / 256).cast("long").cast("string"),
          lit("."),
          (col("nessus_host_id") % 256).cast("string")).as("host_ip"),
        concat(lit("host-"), col("nessus_host_id").cast("string"), lit(".example.com"))
          .as("host_fqdn"),
        col("scan_run_id").cast("string").as("host_start"),
        (col("scan_run_id") + 1).cast("string").as("host_end"),
        lit("Linux").as("os"),
        col("critical_count"),
        col("high_count"),
        col("medium_count"),
        col("low_count"),
        col("info_count"))

    NessusWarehouse(folder, scan, scanRun, host, hostVuln, plugin, vulnOutput)
  }
}
