package perfbench

import graft.api.{Export, Nessus}
import graft.io.LandingZone
import graft.schema.Schemas
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}

/** `ingest`: the write path. Several seeded deployments each run
  * `Export.incremental` twice against their fake API (the first run lands
  * every completed run, the rerun must land nothing), then the landed docs
  * are read back and `Nessus.load` builds a fresh warehouse.
  */
object Ingest {
  val Deployments = 2
  val Tables = Seq("folder", "scan", "scan_run", "host", "host_vuln", "plugin", "vuln_output")

  /** The timed cycle's worlds. Each run has 20 hosts × 10 findings, the
    * shape of an earlier 2,000-run prototype; per deployment 19 of 20 scans
    * have run and 8 of each one's 10 runs completed: 304 landed runs,
    * 60,800 findings and 67,228 GETs in the first exports, about 15% of
    * the prototype's world.
    */
  def worlds(seed: Long): Seq[World] =
    (0 until Deployments).map(d => World(seed, d, scans = 20, runsPerScan = 10, hostsPerRun = 20, vulnsPerHost = 10))

  /** The floor world: per deployment one landed run of the same shape,
    * plus a scan that never ran, so a cycle over it takes every code path
    * and every Spark job of a timed cycle with under 1% of its data. The
    * set-up cycles run over it (under another seed); the last one's time
    * is the cycle's job floor.
    */
  def floorWorlds(seed: Long): Seq[World] =
    (0 until Deployments).map(d =>
      World(World.mix(seed ^ 0x7F4A7C15L), d, scans = 2, runsPerScan = 1, hostsPerRun = 20, vulnsPerHost = 10))

  /** What one cycle measured. */
  final case class Cycle(
      seconds: Double,
      exportS: Seq[Double],
      noopS: Seq[Double],
      loadS: Double,
      gets: Vector[Long],
      noopGets: Long,
      landedBytes: Long,
      export: Counters,
      noop: Counters,
      load: Counters,
      tableBytes: Seq[(String, Long)])

  def dep(w: World) = s"deployment-${w.deployment}"

  /** GETs of a first export: 2 + #scans + Σ_new_runs(1 + #hosts + #hosts×#vulns). */
  def expectedGets(w: World): Long =
    2L + w.scans + w.completedRuns.map(_ => 1L + w.hostsPerRun + w.hostsPerRun * w.vulnsPerHost).sum

  /** One cycle into fresh landing and warehouse dirs under `dir`, followed
    * by the correctness checks (untimed). The checks of the export results
    * and GETs are free; those that read the warehouse back run only if
    * `checkWarehouse`.
    */
  def cycle(
      spark: SparkSession,
      ws: Seq[World],
      dir: String,
      trace: Option[Trace],
      report: Report,
      checkWarehouse: Boolean): Cycle = {
    val landing = s"$dir/landing"
    val wh = s"$dir/warehouse"
    def scoped[T](s: String)(b: => T): T = trace.fold(b)(_.scoped(s)(b))
    val exportS = Seq.newBuilder[Double]
    val noopS = Seq.newBuilder[Double]
    var gets = Vector.fill(Gets.Kinds.size)(0L)
    var noopGets = 0L
    for (w <- ws) {
      val g0 = Gets.snapshot()
      val (first, t1) = Stat.time(scoped("export")(Export.incremental(spark, FakeFactory(w), dep(w), landing)))
      val g1 = Gets.snapshot()
      val (second, t2) = Stat.time(scoped("export_noop")(Export.incremental(spark, FakeFactory(w), dep(w), landing)))
      val g2 = Gets.snapshot()
      exportS += t1
      noopS += t2
      gets = gets.zip(g1.zip(g0).map { case (a, b) => a - b }).map { case (a, b) => a + b }
      noopGets += g2.sum - g1.sum
      report.check(s"${dep(w)} first export lands every completed run") {
        first == Export.Result(w.completedRuns.size.toLong, snapshotsWritten = true)
      }
      report.check(s"${dep(w)} first export GETs = 2 + #scans + sum(1 + #hosts + #hosts*#vulns)") {
        g1.sum - g0.sum == expectedGets(w)
      }
      report.check(s"${dep(w)} rerun lands nothing with 2 + #scans GETs") {
        second == Export.Result(0L, snapshotsWritten = false) && g2.sum - g1.sum == 2L + w.scans
      }
    }
    val (_, loadS) = Stat.time(scoped("load") {
      Nessus.load(
        spark,
        LandingZone.readScanRunDocs(spark, s"$landing/${Export.ScanRunsDir}"),
        LandingZone.read(spark, s"$landing/${Export.FoldersDir}", Schemas.folderDoc),
        LandingZone.read(spark, s"$landing/${Export.ScansDir}", Schemas.scanDoc),
        wh)
    })
    val counters = trace.map(t => (t.take("export"), t.take("export_noop"), t.take("load")))
      .getOrElse((Counters(), Counters(), Counters()))
    if (checkWarehouse) checkLoaded(spark, ws, wh, report)
    Cycle(
      exportS.result().sum + noopS.result().sum + loadS,
      exportS.result(), noopS.result(), loadS, gets, noopGets,
      Files2.dataBytes(landing), counters._1, counters._2, counters._3,
      (Tables :+ "vuln_output_wide").map(t => t -> Files2.dataBytes(s"$wh/$t")))
  }

  /** The warehouse at `wh` holds the worlds' row counts and no orphans. */
  def checkLoaded(spark: SparkSession, ws: Seq[World], wh: String, report: Report): Unit = {
    report.check("warehouse row counts equal the world's counts") {
      val w = new Nessus(spark, wh).warehouse
      val got = Seq(w.folder, w.scan, w.scanRun, w.host, w.hostVuln, w.plugin, w.vulnOutput)
        .map(_.agg(count(lit(1))))
        .reduce(_ unionAll _)
        .collect().map(_.getLong(0)).toSeq
      val want = expectedCounts(ws)
      if (got != want) System.err.println(s"[perfbench] row counts ${Tables.zip(got)} != ${Tables.zip(want)}")
      got == want
    }
    report.check("vuln_output has no orphan host_vuln_id") {
      val w = new Nessus(spark, wh).warehouse
      w.vulnOutput.join(w.hostVuln, Seq("host_vuln_id"), "left_anti").isEmpty
    }
  }

  /** Row counts of the 7 tables for the union of the worlds. */
  def expectedCounts(ws: Seq[World]): Seq[Long] = {
    var hosts, hostVulns, outputs = 0L
    val plugins = scala.collection.mutable.HashSet.empty[Long]
    for (w <- ws; (_, h) <- w.completedRuns; host <- w.hosts(h); p <- w.vulns(h, host)) {
      hostVulns += 1
      plugins += p
      outputs += w.ports(h, host, p).size
    }
    for (w <- ws; (_, h) <- w.completedRuns) hosts += w.hosts(h).size
    Seq(
      ws.map(_.folders.toLong).sum, ws.map(_.scans.toLong).sum, ws.map(_.completedRuns.size.toLong).sum,
      hosts, hostVulns, plugins.size.toLong, outputs)
  }
}
