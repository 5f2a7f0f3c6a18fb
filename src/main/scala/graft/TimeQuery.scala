package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time named queries warm, N times each in one JVM, with the
  * [[Census]] of every rep (jobs, stages, tasks, task time, shuffle bytes,
  * generated classes compiled), then print each query's formatted plan.
  * Separates plan problems (slow every run, same counts) from machine
  * noise (slow once):
  * `runMain graft.TimeQuery <name[,name...]> [sfDir] [reps]`.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.etl.NessusSynth(spark, sfDir)
    graft.etl.Docs.cached(spark, sfDir)
    for (name <- names) {
      val df = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val ((q, n), counts) = Census.measure(spark) {
          val q = SparkEntry.queries(name)(spark, sfDir)
          (q, q.count())
        }
        println(f"[timequery] $name run $i rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s $counts")
        q
      }.last
      println(s"=== $name ===")
      df.explain("formatted")
    }
    spark.stop()
  }
}
