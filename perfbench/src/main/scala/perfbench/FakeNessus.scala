package perfbench

import graft.sources.{ApiFactory, NessusApi}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLongArray

/** A seeded synthetic Nessus deployment served by an in-process fake REST
  * API. Every response is computed from the request path alone, so the
  * world costs no memory and any number of clients (one per Spark task)
  * see the same answers. Sizes are fixed by construction; the seed varies
  * ids, host and plugin choices, port counts, statuses and dates.
  *
  * Ids are globally unique across deployments (Nessus.load deduplicates on
  * (scan_id, history_id) and on folder/scan ids): folder `d*100+f`, scan
  * `d*1000+s`, history `scan*100+r`.
  */
final case class World(
    seed: Long,
    deployment: Int,
    scans: Int,
    runsPerScan: Int,
    hostsPerRun: Int,
    vulnsPerHost: Int) {
  import World._

  val folders = 3
  def folderId(f: Int): Long = deployment * 100L + f
  def scanId(s: Int): Long = deployment * 1000L + s
  def scanIds: Seq[Long] = (0 until scans).map(scanId)
  /** The last scan has never run: its detail carries `history: null`. */
  def hasHistory(scanId: Long): Boolean = scanId % 1000 != scans - 1

  private def rnd(keys: Long*): SplittableRandom =
    new SplittableRandom(keys.foldLeft(mix(seed ^ 0x5DEECE66DL))((h, k) => mix(h ^ k)))

  /** Every fifth run of a scan is still running or was canceled. */
  def status(historyId: Long): String =
    if (historyId % 5 == 2) { if (rnd(historyId, 1).nextBoolean()) "running" else "canceled" }
    else "completed"

  def historyIds(scanId: Long): Seq[Long] = (0 until runsPerScan).map(r => scanId * 100 + r)

  /** Completed runs, i.e. the runs a first export lands. */
  def completedRuns: Seq[(Long, Long)] =
    for {
      s <- scanIds if hasHistory(s)
      h <- historyIds(s) if status(h) == "completed"
    } yield (s, h)

  /** Distinct Nessus host ids of a run, drawn from a 200-host pool. */
  def hosts(historyId: Long): Seq[Long] = pick(rnd(historyId, 2), hostsPerRun, 200)

  /** Distinct plugin ids found on one host in one run (pool of 400). */
  def vulns(historyId: Long, hostId: Long): Seq[Long] =
    pick(rnd(historyId, hostId, 3), vulnsPerHost, 400)

  def ports(historyId: Long, hostId: Long, pluginId: Long): Seq[String] = {
    val r = rnd(historyId, hostId, pluginId, 4)
    pick(r, 1 + r.nextInt(3), 1000).map(p => s"${p + 20} / tcp")
  }

  def get(path: String): String = {
    val (kind, body) = route(path)
    Gets.count(kind)
    body
  }

  private def route(path: String): (Int, String) = path match {
    case "/folders" =>
      Gets.Folders -> s"""{"folders": [${(0 until folders).map(folderJson).mkString(",")}]}"""
    case "/scans" =>
      Gets.Scans -> (s"""{"scans": [${(0 until scans).map(scanJson).mkString(",")}], """ +
        s""""folders": [${(0 until folders).map(folderJson).mkString(",")}]}""")
    case PluginPath(_, h, p, r) => Gets.PluginOutput -> pluginOutput(r.toLong, h.toLong, p.toLong)
    case HostPath(_, h, r) => Gets.Host -> hostDetail(r.toLong, h.toLong)
    case RunPath(_, r) => Gets.ScanRun -> runSummary(r.toLong)
    case ScanPath(s) => Gets.Scan -> scanDetail(s.toLong)
    case _ => sys.error(s"unexpected GET $path")
  }

  private def folderJson(f: Int) =
    s"""{"id": ${folderId(f)}, "type": "custom", "name": "dep$deployment-folder$f"}"""

  private def scanJson(s: Int) =
    s"""{"id": ${scanId(s)}, "folder_id": ${folderId(s % folders)}, "type": "local", "name": "dep$deployment-scan$s"}"""

  private def scanDetail(scanId: Long): String =
    if (!hasHistory(scanId)) """{"history": null}"""
    else {
      val hs = historyIds(scanId).map { h =>
        // all runs finished well before today, so a same-day rerun lands 0
        val modified = Epoch2024 + (h % 100) * 86400L + rnd(h, 5).nextInt(86400)
        s"""{"history_id": $h, "status": "${status(h)}", "last_modification_date": $modified}"""
      }
      s"""{"history": [${hs.mkString(",")}]}"""
    }

  private def runSummary(historyId: Long): String = {
    val hs = hosts(historyId)
    val start = Epoch2024 + (historyId % 100) * 86400L
    s"""{"info": {"scan_start": $start, "scan_end": ${start + 3600}, "hostcount": ${hs.size}}, """ +
      s""""hosts": [${hs.map(h => s"""{"host_id": $h}""").mkString(",")}]}"""
  }

  private def hostDetail(historyId: Long, hostId: Long): String = {
    val vs = vulns(historyId, hostId).map { p =>
      s"""{"plugin_id": $p, "severity": ${p % 5}, "count": ${1 + (p + hostId) % 3}}"""
    }
    s"""{"info": {"host_ip": "10.$deployment.${hostId / 256}.${hostId % 256}", """ +
      s""""host_fqdn": "h$hostId.dep$deployment.example", "host_start": "run$historyId-start", """ +
      s""""host_end": "run$historyId-end", "os": "${Os((hostId % Os.size).toInt)}"}, """ +
      s""""vulnerabilities": [${vs.mkString(",")}]}"""
  }

  private def pluginOutput(historyId: Long, hostId: Long, pluginId: Long): String = {
    val ports = this.ports(historyId, hostId, pluginId).map(p => s""""$p": 1""").mkString(", ")
    s"""{"info": {"plugindescription": ${pluginDescription(pluginId)}}, """ +
      s""""outputs": [{"ports": {$ports}, "plugin_output": "plugin $pluginId on host $hostId"}]}"""
  }
}

object World {
  val Epoch2024 = 1704067200L
  private val Os = Vector("Linux", "Windows", "FreeBSD")
  private val ScanPath = """/scans/(\d+)""".r
  private val RunPath = """/scans/(\d+)\?history_id=(\d+)""".r
  private val HostPath = """/scans/(\d+)/hosts/(\d+)\?history_id=(\d+)""".r
  private val PluginPath = """/scans/(\d+)/hosts/(\d+)/plugins/(\d+)\?history_id=(\d+)""".r

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` distinct values from [1, pool], in drawn order. */
  private def pick(r: SplittableRandom, n: Int, pool: Int): Seq[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (seen.size < n) seen += 1L + r.nextInt(pool)
    seen.toSeq
  }

  /** Plugin metadata is a function of the plugin id alone, so every host
    * and deployment reports the same description (Nessus.load keeps one
    * plugin row per id).
    */
  def pluginDescription(p: Long): String = {
    val seeAlso =
      if (p % 4 == 0) "{}"
      else s"""{"see_also": ["https://nvd.example/$p", "https://vendor.example/advisory/$p"]}"""
    s"""{"plugin_id": $p, "severity": ${p % 5}, "name": "plugin-$p", "family": "family-${p % 17}", """ +
      s""""synopsis": "synopsis of $p", "description": "description of plugin $p", "solution": "upgrade", """ +
      s""""cvss_base_score": ${(p % 100) / 10.0}, "cvss3_base_score": ${(p % 101) / 10.0}, """ +
      s""""cvss_vector": "AV:N/AC:L", "cvss3_vector": "CVSS:3.0", "pluginattributes": $seeAlso, """ +
      s""""pub_date": "2020/01/${10 + p % 18}", "mod_date": "2021/02/${10 + p % 18}"}"""
  }
}

/** GET counters per endpoint kind. Spark runs tasks in this JVM (local
  * master), so every per-task API client increments the same counters.
  */
object Gets {
  val Scans = 0
  val Folders = 1
  val Scan = 2
  val ScanRun = 3
  val Host = 4
  val PluginOutput = 5
  val Kinds: Seq[(Int, String)] = Seq(
    Scans -> "scans", Folders -> "folders", Scan -> "scan", ScanRun -> "scan_run",
    Host -> "host", PluginOutput -> "plugin_output")

  private val counts = new AtomicLongArray(Kinds.size)
  def count(kind: Int): Unit = counts.incrementAndGet(kind)
  def snapshot(): Vector[Long] = Kinds.map(k => counts.get(k._1)).toVector
  def total(): Long = snapshot().sum
}

final case class FakeApi(world: World) extends NessusApi {
  def get(path: String): String = world.get(path)
}

final case class FakeFactory(world: World) extends ApiFactory {
  def create(): NessusApi = FakeApi(world)
}
