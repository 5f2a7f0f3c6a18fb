package graft

import graft.api.Nessus
import graft.etl.{Docs, Incremental, Normalize, NessusSynth}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

case class PluginAttrs(see_also: Seq[String])
case class PluginDoc(
    plugin_id: Long, severity: Long, name: String, family: String,
    synopsis: String, description: String, solution: String,
    cvss_base_score: Double, cvss3_base_score: Double, cvss_vector: String,
    cvss3_vector: String, pluginattributes: PluginAttrs, pub_date: String,
    mod_date: String)
case class HostVulnDoc(nessus_host_id: Long, scan_run_id: Long, plugin_id: Long)
case class OutputDoc(port: String, output: String)
case class VulnDoc(plugin: PluginDoc, host_vuln: HostVulnDoc, outputs: Seq[OutputDoc])
case class HostInfo(host_ip: String, host_fqdn: String, host_start: String, host_end: String, os: String)
case class TargetDoc(
    host_id: Long, history_id: Long, scan_id: Long, critical_count: Long,
    high_count: Long, medium_count: Long, low_count: Long, info_count: Long,
    info: HostInfo, vulnerabilities: Seq[VulnDoc])
case class ScanRunDoc(
    history_id: Long, scan_id: Long, scanner_start: Long, scanner_end: Long,
    host_count: Long, critical_count: Long, high_count: Long,
    medium_count: Long, low_count: Long, info_count: Long,
    targets: Seq[TargetDoc])

class NormalizeSpec extends SparkSpec {

  private def mkPlugin(id: Long, seeAlso: Seq[String]) = PluginDoc(
    id, 4L, s"plug$id", "fam", "syn", "desc", "sol", 9.8, 9.9, "AV:N", "C3",
    PluginAttrs(seeAlso), "2020/01/01", "2021/01/01")

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      ScanRunDoc(
        100L, 1L, 1000L, 2000L, 1L, 1L, 0L, 0L, 0L, 0L,
        Seq(
          TargetDoc(
            7L, 100L, 1L, 1L, 0L, 0L, 0L, 0L,
            HostInfo("10.0.0.7", "h7.example.com", "s", "e", "Linux"),
            Seq(
              VulnDoc(
                mkPlugin(41L, Seq("https://a", "https://b")),
                HostVulnDoc(7L, 100L, 41L),
                // P2 ran at formatting time: one pair per port, output repeats
                Seq(
                  OutputDoc("443 / tcp", "out-41"),
                  OutputDoc("8443 / tcp", "out-41"))),
              VulnDoc(
                mkPlugin(42L, null), // absent see_also → ref null (P1)
                HostVulnDoc(7L, 100L, 42L),
                Seq(OutputDoc("22 / tcp", "out-42")))))))
    ).toDF()
  }

  test("vulnOutput: one row per {port, output} pair (P2 applied upstream)") {
    val vo = Normalize.vulnOutput(docs)
    val ports =
      vo.filter(col("plugin_id") === 41).select("port", "output").collect()
    assert(ports.length == 2)
    assert(ports.map(_.getString(1)).toSet == Set("out-41"))
    assert(
      ports.map(_.getString(0)).toSet == Set("443 / tcp", "8443 / tcp"))
  }

  test("P1: ref = newline-join of see_also; null when absent") {
    val p = Normalize.plugin(docs)
    val refs = p.select("plugin_id", "ref").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(refs(41L).contains("https://a\nhttps://b"))
    assert(refs(42L).isEmpty)
  }

  test("surrogate ids follow the partitioned-id spec") {
    val hv = Normalize.hostVuln(docs).collect()
    val ids = hv.map(_.getAs[Long]("host_vuln_id")).sorted
    assert(ids.toSeq == Seq(100L * NessusSynth.IdStride + 1, 100L * NessusSynth.IdStride + 2))
    val h = Normalize.host(docs).collect()
    assert(h.head.getAs[Long]("host_id") == 100L * NessusSynth.IdStride + 1)
    // each output keeps its own vulnerability's host_vuln_id
    val vo = Normalize.vulnOutput(docs).collect()
      .map(r => (r.getAs[Long]("plugin_id"), r.getAs[String]("port"),
        r.getAs[Long]("host_vuln_id") % NessusSynth.IdStride,
        r.getAs[Long]("vuln_output_id") % NessusSynth.IdStride))
      .toSet
    assert(vo == Set((41L, "443 / tcp", 1L, 1L), (41L, "8443 / tcp", 1L, 2L), (42L, "22 / tcp", 2L, 3L)))
  }

  test("Nessus.load: exactly the 7 tables, ids by the partitioned rule, a re-load changes nothing") {
    val w = NessusSynth(spark, sf)
    val d = Docs.cached(spark, sf) // run subset: scan_run_id % 10 = 3
    val folders = w.folder.select(
      collect_list(struct(col("folder_id").as("id"), col("type"), col("name"))).as("folders"))
    val scans = w.scan.select(
      collect_list(struct(col("scan_id").as("id"), col("folder_id"), col("type"), col("name"))).as("scans"))
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_load_").toString
    val tables = Seq("folder", "scan", "scan_run", "host", "host_vuln", "plugin", "vuln_output")
    def read(t: String) = spark.read.parquet(s"$dir/$t")
    def contents() = tables.map(t => t -> read(t).collect().map(_.toString).sorted.toSeq).toMap

    Nessus.load(spark, d, folders, scans, dir)
    assert(new java.io.File(dir).list().toSet == tables.toSet)
    val first = contents()
    assert(first.values.forall(_.nonEmpty))

    def sameMultiset(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def rule(order: String*) =
      col("scan_run_id") * NessusSynth.IdStride + row_number().over(
        Window.partitionBy("scan_run_id").orderBy(order.map(col): _*))
    val hv = read("host_vuln")
    val hvCols = Seq("host_vuln_id", "scan_run_id", "nessus_host_id", "plugin_id")
    assert(sameMultiset(
      hv.select(hvCols.map(col): _*),
      hv.withColumn("host_vuln_id", rule("nessus_host_id", "plugin_id")).select(hvCols.map(col): _*)))
    val vo = read("vuln_output").join(hv, Seq("host_vuln_id"))
    assert(vo.count() == read("vuln_output").count()) // every output has its host_vuln
    val natural = Seq("scan_run_id", "nessus_host_id", "plugin_id", "port", "output")
    val voCols = ("vuln_output_id" +: natural).map(col)
    assert(sameMultiset(
      vo.select(voCols: _*),
      vo.withColumn("vuln_output_id", rule(natural.drop(1): _*)).select(voCols: _*)))
    assert(sameMultiset(vo.select(natural.map(col): _*), Normalize.vulnOutput(d).select(natural.map(col): _*)))

    Nessus.load(spark, d, folders, scans, dir)
    assert(new java.io.File(dir).list().toSet == tables.toSet)
    assert(contents() == first)
  }

  test("scanRun carries doc fields and serializes targets (C9)") {
    val sr = Normalize.scanRun(docs).collect().head
    assert(sr.getAs[Long]("scan_run_id") == 100L)
    assert(sr.getAs[Long]("scan_start") == 1000L)
    assert(sr.getAs[String]("targets").contains("\"host_id\":7"))
  }

  test("round-trip: warehouse → docs → normalize preserves table contents") {
    val w = NessusSynth(spark, sf)
    val d = Docs.cached(spark, sf) // run subset: scan_run_id % 10 = 3
    val keep = col("scan_run_id") % 10 === 3
    // hosts: full row equality (ids included — same partitioned-id spec);
    // exceptAll is positional, so align to the warehouse column order
    val wHost = w.host.filter(keep)
    val nh = Normalize.host(d).select(w.host.columns.toSeq.map(col): _*)
    assert(wHost.exceptAll(nh).count() == 0)
    assert(nh.exceptAll(wHost).count() == 0)
    // plugins referenced by any vuln survive with identical values
    val refd = w.plugin.join(
      w.hostVuln.filter(keep).select("plugin_id").distinct(),
      Seq("plugin_id"),
      "left_semi")
    val np = Normalize.plugin(d).select(w.plugin.columns.toSeq.map(col): _*)
    assert(refd.exceptAll(np).count() == 0)
    // vuln_output natural-key multiset (ids differ: ordering spec differs)
    val a = w.vulnOutput
      .join(w.hostVuln.filter(keep), Seq("host_vuln_id"))
      .select("scan_run_id", "nessus_host_id", "plugin_id", "port", "output")
      .distinct()
    val b = Normalize
      .vulnOutput(d)
      .select("scan_run_id", "nessus_host_id", "plugin_id", "port", "output")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
