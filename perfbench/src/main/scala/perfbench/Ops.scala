package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import scala.jdk.CollectionConverters._

/** `ops`: the registry's job floor. One pass runs four registry queries
  * in seeded order: two bound by per-job fixed cost (the ANN nprobe tuner
  * ladder, one job per BFS hop), one bound by data (the set-join store
  * rebuild) and the rank chains of the Spearman matrix, so a job-floor cut
  * moves the first two and a shuffle cut the set-join.
  */
object Ops {
  val Queries = Seq(
    "ann_autotune_nprobe", "graph_bfs_distances", "dedup_setjoin_rebuild", "gen_spearman")

  /** Engine files whose jobs are counted on their own; the rest are
    * `queries` (the registry files), `harness` (this benchmark's final
    * collect) or `other`.
    */
  val Modules = Seq("Similarity", "Graph", "Dedup", "Stats", "queries", "harness", "other")

  def moduleOf(file: String): String = file.stripSuffix(".scala") match {
    case m @ ("Similarity" | "Graph" | "Dedup" | "Stats") => m
    case "OpsQueries" | "GenQueries" => "queries"
    case "Ops" => "harness"
    case _ => "other"
  }

  /** Delete the persisted stores the queries leave under java.io.tmpdir,
    * so every query starts from the same empty state.
    */
  def clearStores(): Unit = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_")).foreach(Files2.delete)
    finally s.close()
  }

  def run(spark: SparkSession, data: String, q: String): Seq[Row] =
    SparkEntry.queries(q)(spark, data).collect().toSeq

  def digest(rows: Seq[Row]): String =
    Digest.rows(rows, rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil))
}
