package graft

import graft.etl.{FormatDocs, Normalize}
import graft.io.LandingZone
import graft.sources.{ApiFactory, Endpoints, Extract, NessusApi, NessusConfig}
import org.apache.spark.sql.functions._

/** Fixture-backed Nessus API: the reference's test double that never
  * existed (SURVEY §5.1).
  */
case class FakeApi(responses: Map[String, String]) extends NessusApi {
  def get(path: String): String =
    responses.getOrElse(path, sys.error(s"unexpected GET $path"))
}
case class FakeFactory(responses: Map[String, String]) extends ApiFactory {
  def create(): NessusApi = FakeApi(responses)
}

class ExtractSpec extends SparkSpec {

  /** Shared fixture world (also used by ApiSpec). */
  def worldFixture: Map[String, String] = world

  private val world: Map[String, String] = Map(
    Endpoints.Scans ->
      """{"scans": [{"id": 1, "folder_id": 100, "type": "local", "name": "s1"},
        |           {"id": 2, "folder_id": 100, "type": "local", "name": "s2"}],
        | "folders": [{"id": 100, "type": "custom", "name": "f"}]}""".stripMargin,
    // NOTE the real scan-detail response carries NO top-level scan_id — the
    // fixture deliberately omits it so a regression back to parsing the id
    // out of the body fails here (newRuns threads the request's id through).
    Endpoints.scan(1) ->
      """{"history": [
        |  {"history_id": 10, "status": "completed", "last_modification_date": 1704758400},
        |  {"history_id": 9,  "status": "completed", "last_modification_date": 1104538000},
        |  {"history_id": 11, "status": "running",   "last_modification_date": 1704758400}]}""".stripMargin,
    Endpoints.scan(2) -> """{"history": null}""",
    Endpoints.scanRun(1, 10) ->
      """{"info": {"scan_start": 1704750000, "scan_end": 1704753600, "hostcount": 1},
        | "hosts": [{"host_id": 7}]}""".stripMargin,
    Endpoints.hostVulns(1, 7, 10) ->
      """{"info": {"host_ip": "10.0.0.7", "host_fqdn": "h7.example.com",
        |          "host_start": "start", "host_end": "end", "os": "Linux"},
        | "vulnerabilities": [
        |   {"plugin_id": 41, "severity": 4, "count": 2},
        |   {"plugin_id": 42, "severity": 0, "count": 3}]}""".stripMargin,
    Endpoints.pluginOutput(1, 7, 41, 10) ->
      """{"info": {"plugindescription": {"plugin_id": 41, "severity": 4, "name": "p41",
        |   "family": "fam", "synopsis": "syn", "description": "desc", "solution": "sol",
        |   "cvss_base_score": 9.8, "cvss3_base_score": 9.9, "cvss_vector": "AV:N",
        |   "cvss3_vector": "C3", "pluginattributes": {"see_also": ["https://a", "https://b"]},
        |   "pub_date": "2020/01/01", "mod_date": "2021/01/01"}},
        | "outputs": [{"ports": {"443 / tcp": 1, "8443 / tcp": 1}, "plugin_output": "out41"}]}""".stripMargin,
    Endpoints.pluginOutput(1, 7, 42, 10) ->
      """{"info": {"plugindescription": {"plugin_id": 42, "severity": 0, "name": "p42",
        |   "family": "fam", "synopsis": "syn", "description": "desc", "solution": "sol",
        |   "cvss_base_score": 0.0, "cvss3_base_score": 0.0, "cvss_vector": "AV:L",
        |   "cvss3_vector": "C0", "pluginattributes": {}, "pub_date": "2020/02/02",
        |   "mod_date": "2021/02/02"}},
        | "outputs": [{"ports": {"22 / tcp": 1}, "plugin_output": "out42"}]}""".stripMargin
  )
  private val factory = FakeFactory(world)

  test("S9 config: fail-fast names every missing key") {
    val e = intercept[IllegalArgumentException](NessusConfig("access_key = a\nurl = u"))
    assert(e.getMessage.contains("secret_key"))
    assert(e.getMessage.contains("s3_bucket"))
    val ok = NessusConfig(NessusConfig.RequiredKeys.map(k => s"$k = v_$k").mkString("\n"))
    assert(ok.deploymentId == "v_deployment_id")
  }

  test("extraction work-list: completed runs past watermark, null history skipped (S4/F1/F3)") {
    val scans = Extract.scanList(spark, world(Endpoints.Scans))
    assert(scans.count() == 2)
    val runs = Extract
      .newRuns(spark, scans, factory, java.sql.Date.valueOf("2024-01-08"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(runs.toSeq == Seq((1L, 10L))) // run 9 pre-watermark, 11 running, scan 2 null history
  }

  test("raw fetch + FormatDocs: severity pivot, ref join, ports unnest, Q2 targets") {
    val s = spark
    import s.implicits._
    val raw = Extract.fetchRawRunDocs(Seq((1L, 10L)).toDS(), factory)
    val doc = FormatDocs(raw)
    val row = doc.collect().head
    assert(row.getAs[Long]("history_id") == 10L)
    assert(row.getAs[Long]("scanner_start") == 1704750000L)
    assert(row.getAs[Long]("host_count") == 1L)
    assert(row.getAs[Long]("critical_count") == 2L) // A1 weighted by count
    assert(row.getAs[Long]("info_count") == 3L) // Q1 fixed mode counts severity 0

    // legacy mode: severity-0 skipped entirely
    val legacy = FormatDocs(raw, legacySeverity = true).collect().head
    assert(legacy.getAs[Long]("info_count") == 0L)
    assert(legacy.getAs[Long]("critical_count") == 2L)

    // normalize the formatted doc into warehouse rows
    val hv = Normalize.hostVuln(doc)
    assert(hv.count() == 2)
    val vo = Normalize.vulnOutput(doc).collect()
    assert(vo.length == 3) // P2: two ports for plugin 41 + one for 42
    assert(vo.count(_.getAs[String]("output") == "out41") == 2)
    val plugins = Normalize.plugin(doc).collect()
      .map(r => r.getAs[Long]("plugin_id") -> Option(r.getAs[String]("ref"))).toMap
    assert(plugins(41L).contains("https://a\nhttps://b")) // P1
    assert(plugins(42L).isEmpty) // P1 null when see_also absent
  }

  test("landing zone: partitioned write is idempotent per day, snapshots conditional (K1/K3/W6/Q10)") {
    val root = java.nio.file.Files.createTempDirectory("graft_lz_").toString
    val s = spark
    import s.implicits._
    val raw = Extract.fetchRawRunDocs(Seq((1L, 10L)).toDS(), factory)
    val docs = LandingZone.stamped(FormatDocs(raw), "dep-1")
    LandingZone.write(docs, root)
    LandingZone.write(docs, root) // same-day rerun overwrites, not duplicates
    val back = LandingZone.readScanRunDocs(spark, root)
    assert(back.count() == 1)
    assert(back.select("deployment_id").head().getString(0) == "dep-1")
    // Q10: snapshots written only when new runs exist (unless snapshotAlways)
    val empty = docs.filter(lit(false))
    assert(!LandingZone.writeSnapshots(docs, empty, root + "/snap", snapshotAlways = false))
    assert(LandingZone.writeSnapshots(docs, empty, root + "/snap", snapshotAlways = true))
  }

  test("landing zone: read finds every deployment and day, with no metadata probe of a glob path") {
    val root = java.nio.file.Files.createTempDirectory("graft_lz_read_").toString
    val raw = {
      val s = spark
      import s.implicits._
      Extract.fetchRawRunDocs(Seq((1L, 10L)).toDS(), factory)
    }
    val parts = for (dep <- Seq("dep-a", "007"); day <- Seq("20240101", "20240102")) yield (dep, day)
    for ((dep, day) <- parts)
      LandingZone.write(
        FormatDocs(raw).withColumn("deployment_id", lit(dep)).withColumn("ingest_date", lit(day)),
        root)

    // every WARN Spark logs while the read plans and runs
    val warnings = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "landing-read-warnings", null, null, true, Array.empty) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val rootLogger = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    rootLogger.addAppender(appender)
    val back =
      try {
        val df = LandingZone.readScanRunDocs(spark, root)
        df.collect()
        df
      } finally rootLogger.removeAppender(appender)
    import scala.jdk.CollectionConverters._
    assert(!warnings.asScala.exists(_.contains("metadata directory")), warnings.asScala.mkString("\n"))

    // one row per landed partition, partition columns as landed strings
    val got = back.select("deployment_id", "ingest_date").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.sorted.toSeq == parts.sorted)
    assert(back.schema("deployment_id").dataType == org.apache.spark.sql.types.StringType)
    assert(back.schema("ingest_date").dataType == org.apache.spark.sql.types.StringType)
    assert(back.select("scan_id", "history_id").distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L)))

    // a missing root is still an error, not an empty read
    intercept[org.apache.spark.sql.AnalysisException](LandingZone.readScanRunDocs(spark, s"$root/missing"))
  }

  test("compact: fragmented parquet dir rewrites to ceil(bytes/target) files, data intact") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val src = s"$dir/frag"
    val dest = s"$dir/tight"
    (1L to 5000L).toDF("id").repartition(64).write.parquet(src)
    val srcFiles = new java.io.File(src).listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(srcFiles == 64, "fixture must be fragmented")
    val total = new java.io.File(src).listFiles
      .filter(f => f.isFile && !f.getName.startsWith("_")).map(_.length).sum
    val target = total / 4 + 1 // expect ~4 output files
    val n = graft.io.LandingZone.compact(spark, src, dest, target)
    val destFiles = new java.io.File(dest).listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(n < 64 && destFiles == n, s"n=$n destFiles=$destFiles")
    assert(spark.read.parquet(dest).count() == 5000L)
    assert(
      spark.read.parquet(dest).agg(sum("id")).head.getLong(0) ==
        spark.read.parquet(src).agg(sum("id")).head.getLong(0))
  }

  test("object-store seam: config maps onto s3a properties; landing round-trips through a URI basePath") {
    val cfg = NessusConfig(
      NessusConfig.RequiredKeys.map {
        case k @ "s3_bucket" => s"$k = nessus-landing"
        case k @ "s3_region" => s"$k = eu-west-1"
        case k @ "s3_endpoint" => s"$k = https://minio.internal:9000"
        case k => s"$k = v_$k"
      }.mkString("\n"))
    val root = LandingZone.configure(spark, cfg)
    assert(root == "s3a://nessus-landing")
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.access.key") == "v_s3_access_key")
    assert(hc.get("fs.s3a.secret.key") == "v_s3_secret_key")
    assert(hc.get("fs.s3a.endpoint.region") == "eu-west-1")
    assert(hc.get("fs.s3a.endpoint") == "https://minio.internal:9000")
    assert(hc.get("fs.s3a.path.style.access") == "true")
    assert(hc.get("fs.s3a.attempts.maximum") == "5")

    // the writer/reader contract holds through a fully-qualified URI root,
    // not just a bare local path (s3a:// is unexercisable offline; the URI
    // scheme handling is what this pins)
    val s = spark
    import s.implicits._
    val uriRoot = "file://" + java.nio.file.Files.createTempDirectory("graft_uri_").toString
    val raw = Extract.fetchRawRunDocs(Seq((1L, 10L)).toDS(), factory)
    LandingZone.write(LandingZone.stamped(FormatDocs(raw), "dep-uri"), uriRoot + "/scan_runs")
    val back = LandingZone.readScanRunDocs(spark, uriRoot + "/scan_runs")
    assert(back.count() == 1)
    assert(back.select("deployment_id").head().getString(0) == "dep-uri")
    assert(
      LandingZone.listKeys(spark, uriRoot).collect().map(_.getString(0)).toSeq
        .forall(_.startsWith("dep-uri/")))
    assert(LandingZone.listKeys(spark, uriRoot).count() == 1)
  }
}
