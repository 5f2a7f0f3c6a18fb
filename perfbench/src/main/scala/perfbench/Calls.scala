package perfbench

import graft.api.Nessus
import graft.etl.{Docs, NessusSynth, NessusWarehouse}
import graft.queries.ScanQueries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `calls`: the read path. Set-up builds a warehouse through the product
  * loader (`Docs.scanRunDocs(NessusSynth(src))` then `Nessus.load`; the
  * synthesized tables come warm from the Materialize cache); one
  * closed-loop client then issues rounds of the four CALLs, each round the
  * four types once in seeded order with seeded sid/fid/offset/pid.
  */
object Calls {
  val SourceTables = Seq("region", "nation", "orders", "lineitem", "part")
  val Types = Seq("scan_stats", "scan_results", "folder_stats", "folder_results")
  val Scans = 25
  val Folders = 5
  val Offsets = 3

  /** Surrogate ids are re-assigned by Normalize and `targets` is only
    * serialized by it, so results compare on the remaining columns.
    */
  private val Surrogates = Set("host_id", "host_vuln_id", "vuln_output_id", "targets")

  def digest(rows: Seq[Row], cols: Seq[String]): String =
    Digest.distinctRows(rows, cols.filterNot(Surrogates))

  final case class Call(kind: String, id: Long, offset: Int, pid: Option[Long]) {
    def key: String = s"$kind/$id/$offset/${pid.fold("-")(_.toString)}"
    def run(w: NessusWarehouse): DataFrame = kind match {
      case "scan_stats" => ScanQueries.scanStats(w, id, offset)
      case "scan_results" => ScanQueries.scanResults(w, id, offset)
      case "folder_stats" => ScanQueries.folderStats(w, id, offset)
      case "folder_results" => ScanQueries.folderResults(w, id, pid, offset)
    }
    def run(api: Nessus): DataFrame = kind match {
      case "scan_stats" => api.getScanStats(id, offset)
      case "scan_results" => api.getScanResults(id, offset)
      case "folder_stats" => api.getFolderStats(id, offset)
      case "folder_results" => api.getFolderResults(id, pid, offset)
    }
  }

  /** Key under which the pinned plugin ids of a folder/offset are stored. */
  def pidsKey(fid: Long, offset: Int) = s"pids/$fid/$offset"

  /** A seeded CALL of `kind`; folder_results filters on a plugin of the
    * folder's result half of the time (pinned, so the filter is not empty).
    */
  def draw(kind: String, r: java.util.SplittableRandom, pinned: Map[String, String]): Call = {
    val offset = r.nextInt(Offsets)
    kind match {
      case "scan_stats" | "scan_results" => Call(kind, r.nextInt(Scans).toLong, offset, None)
      case _ =>
        val fid = r.nextInt(Folders).toLong
        val pids = pinned.get(pidsKey(fid, offset)).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
        val pid =
          if (kind == "folder_results" && pids.nonEmpty && r.nextBoolean()) Some(pids(r.nextInt(pids.size)).toLong)
          else None
        Call(kind, fid, offset, pid)
    }
  }

  /** The product loader: nest the synthesized warehouse into scan-run
    * documents and load them, with folder/scan snapshots, into `wh`.
    */
  def load(spark: SparkSession, w: NessusWarehouse, wh: String): Unit = {
    val folders = w.folder.select(
      collect_list(struct(col("folder_id").as("id"), col("type"), col("name"))).as("folders"))
    val scans = w.scan.select(
      collect_list(struct(col("scan_id").as("id"), col("folder_id"), col("type"), col("name"))).as("scans"))
    Nessus.load(spark, Docs.scanRunDocs(w), folders, scans, wh)
  }

  /** The synthesized warehouse restricted to the scan runs that have
    * findings. `Docs.scanRunDocs` inner-joins runs to their hosts, so a run
    * without any host row gets no document and never reaches the loaded
    * warehouse (the extract path, by contrast, lands such runs with empty
    * targets). The reference answers the CALLs over the runs the loader
    * was given.
    */
  def reference(w: NessusWarehouse): NessusWarehouse =
    w.copy(scanRun = w.scanRun.join(w.hostVuln.select("scan_run_id"), Seq("scan_run_id"), "left_semi"))

  /** Every CALL of the parameter space with its digest over
    * `ScanQueries` on `NessusSynth(src)`, plus the plugin ids each
    * folder/offset's results contain (at most four).
    */
  def pin(spark: SparkSession, src: String): Seq[(String, String)] = {
    val w = reference(NessusSynth(spark, src))
    def dig(c: Call) = {
      val df = c.run(w)
      c.key -> digest(df.collect().toSeq, df.columns.toSeq)
    }
    val scans = for (k <- Types.take(2); s <- 0 until Scans; o <- 0 until Offsets) yield dig(Call(k, s, o, None))
    val folders = for (f <- 0 until Folders; o <- 0 until Offsets) yield {
      val stats = dig(Call("folder_stats", f, o, None))
      val all = Call("folder_results", f, o, None)
      val df = all.run(w)
      val rows = df.collect().toSeq
      val pids = rows.map(_.getAs[Long]("plugin_id")).distinct.sorted.take(4)
      Seq(stats, all.key -> digest(rows, df.columns.toSeq), pidsKey(f, o) -> pids.mkString(",")) ++
        pids.map(p => dig(Call("folder_results", f, o, Some(p))))
    }
    scans ++ folders.flatten
  }
}
