package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The missing S3→warehouse middle of the reference (SURVEY §0): normalize
  * nested scan-run documents (reference `export.py:196-215` shape, FIXTURES
  * §B) into the 5 run-derived warehouse tables, and the folder/scan
  * snapshots into the other 2. All flattening is built-in generators
  * (`explode`, `map_keys`) — narrow where possible, no custom Generator
  * (SURVEY §2.11). Surrogate ids all follow one rule,
  * [[NessusSynth.runScopedId]].
  *
  * Expected document schema (field provenance in FIXTURES.md §B):
  * {{{
  * history_id, scan_id, scanner_start, scanner_end, host_count,
  * critical_count..info_count,
  * targets: array<struct<
  *   host_id (the NESSUS host id, export.py:172), history_id, scan_id,
  *   critical_count..info_count,
  *   info: struct<host_ip, host_fqdn, host_start, host_end, os>,
  *   vulnerabilities: array<struct<
  *     plugin: struct<plugin_id, severity, name, family, synopsis,
  *       description, solution, cvss_base_score, cvss3_base_score,
  *       cvss_vector, cvss3_vector, pluginattributes: struct<see_also:
  *       array<string>>, pub_date, mod_date>,
  *     host_vuln: struct<nessus_host_id, scan_run_id, plugin_id>,
  *     outputs: array<struct<ports: map<string, int>, plugin_output>>
  *   >>
  * >>
  * }}}
  */
object Normalize {

  private val sevCols =
    Seq("critical_count", "high_count", "medium_count", "low_count", "info_count")

  /** folder rows from a GET /folders snapshot, one per folder_id. */
  def folder(folderSnapshot: DataFrame): DataFrame =
    folderSnapshot
      .select(explode(col("folders")).as("f"))
      .select(col("f.id").as("folder_id"), col("f.type").as("type"), col("f.name").as("name"))
      .dropDuplicates("folder_id")

  /** scan rows from a GET /scans snapshot, one per scan_id. */
  def scan(scanSnapshot: DataFrame): DataFrame =
    scanSnapshot
      .select(explode(col("scans")).as("s"))
      .select(
        col("s.id").as("scan_id"),
        col("s.folder_id").as("folder_id"),
        col("s.type").as("type"),
        col("s.name").as("name"))
      .dropDuplicates("scan_id")

  /** scan_run rows (reference `export.py:196-208` projection P5, reversed).
    * `targets` is the serialized host tree (C9/Q2: the doc's targets alias
    * the fully formatted hosts). Docs read from the landing zone carry the
    * partition's deployment_id; it is kept as `deployment_uuid` — the join
    * key to `scaner_deployments` for cross-client rollups.
    */
  def scanRun(docs: DataFrame): DataFrame = {
    val base = Seq(
      col("history_id").as("scan_run_id"),
      col("scan_id"),
      col("scanner_start").as("scan_start"),
      col("scanner_end").as("scan_end"),
      to_json(col("targets")).as("targets"),
      col("host_count")) ++ sevCols.map(col)
    val withDep =
      if (docs.columns.contains("deployment_id"))
        base :+ col("deployment_id").as("deployment_uuid")
      else base
    docs.select(withDep: _*)
  }

  /** host rows (P4 enrichment, reversed). Surrogate host_id = partitioned
    * rank of nessus_host_id within the run (SURVEY §7.5#4).
    */
  def host(docs: DataFrame): DataFrame =
    docs
      .select(explode(col("targets")).as("t"))
      .select(
        Seq(
          col("t.host_id").as("nessus_host_id"),
          col("t.history_id").as("scan_run_id"),
          col("t.scan_id"),
          col("t.info.host_ip").as("host_ip"),
          col("t.info.host_fqdn").as("host_fqdn"),
          col("t.info.host_start").as("host_start"),
          col("t.info.host_end").as("host_end"),
          col("t.info.os").as("os")) ++ sevCols.map(c => col(s"t.$c").as(c)): _*)
      .withColumn("host_id", NessusSynth.runScopedId("nessus_host_id"))

  private def vulns(docs: DataFrame): DataFrame =
    docs
      .select(explode(col("targets")).as("t"))
      .select(explode(col("t.vulnerabilities")).as("v"))

  /** The vulnerabilities, each with its host_vuln triple (carried verbatim
    * in the doc, `export.py:156-159`), its outputs, and its surrogate
    * host_vuln_id = partitioned rank over (nessus_host_id, plugin_id)
    * within the run. The docs hold one vulnerability per (run, host,
    * plugin), so the id is unique.
    */
  private def keyedVulns(docs: DataFrame): DataFrame =
    vulns(docs)
      .select(
        col("v.host_vuln.nessus_host_id").as("nessus_host_id"),
        col("v.host_vuln.scan_run_id").as("scan_run_id"),
        col("v.host_vuln.plugin_id").as("plugin_id"),
        col("v.outputs").as("outputs"))
      .withColumn("host_vuln_id", NessusSynth.runScopedId("nessus_host_id", "plugin_id"))

  /** host_vuln rows (P3, reversed). */
  def hostVuln(docs: DataFrame): DataFrame =
    keyedVulns(docs).select("host_vuln_id", "nessus_host_id", "scan_run_id", "plugin_id")

  /** plugin rows (P1: `ref` = newline-join of pluginattributes.see_also,
    * null when absent — `export.py:136-142`), deduplicated by plugin_id.
    * Duplicate docs for one plugin are expected to carry identical plugin
    * structs (the reference upserts by PK; "insert plugin first",
    * `export.py:152`).
    */
  def plugin(docs: DataFrame): DataFrame =
    vulns(docs)
      .select(
        col("v.plugin.plugin_id").as("plugin_id"),
        col("v.plugin.severity").as("severity"),
        col("v.plugin.name").as("name"),
        col("v.plugin.family").as("family"),
        col("v.plugin.synopsis").as("synopsis"),
        col("v.plugin.description").as("description"),
        col("v.plugin.solution").as("solution"),
        col("v.plugin.cvss_base_score").as("cvss_base_score"),
        col("v.plugin.cvss3_base_score").as("cvss3_base_score"),
        col("v.plugin.cvss_vector").as("cvss_vector"),
        col("v.plugin.cvss3_vector").as("cvss3_vector"),
        array_join(col("v.plugin.pluginattributes.see_also"), "\n").as("ref"),
        col("v.plugin.pub_date").as("pub_date"),
        col("v.plugin.mod_date").as("mod_date"))
      .dropDuplicates("plugin_id")

  /** vuln_output rows: the doc's outputs are already unnested {port,
    * output} pairs (P2 ran at formatting time, `export.py:144-149` — see
    * [[FormatDocs.unnestPorts]]). Each row keeps its vulnerability's
    * host_vuln_id and its natural key; surrogate vuln_output_id =
    * partitioned rank within the run over the natural key.
    */
  def vulnOutput(docs: DataFrame): DataFrame =
    keyedVulns(docs)
      .select(col("*"), explode(col("outputs")).as("o"))
      .select("scan_run_id", "nessus_host_id", "plugin_id", "host_vuln_id", "o.port", "o.output")
      .withColumn(
        "vuln_output_id",
        NessusSynth.runScopedId("nessus_host_id", "plugin_id", "port", "output"))
}
