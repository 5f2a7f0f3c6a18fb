package graft

/** Registry job budget: a checked-in per-query ceiling on the Spark jobs one
  * warm build + count of the query runs at the sf0.001 fixture, measured by
  * [[Census]]. Job counts do not drift with the box's load, so a regression
  * in the per-job floor fails here loudly. Each ceiling is the count measured
  * when it was set; raising one needs a CHANGES.md line saying why.
  */
class JobBudgetSpec extends SparkSpec {

  private val ceilings: Seq[(String, Long)] = Seq(
    // the paper's four Nth-most-recent-run CALLs
    "scan_stats" -> 4L,
    "scan_results" -> 7L,
    "folder_stats" -> 5L,
    "folder_results" -> 8L,
    // the benchmark's ops rows
    "ann_autotune_nprobe" -> 62L,
    "graph_bfs_distances" -> 10L,
    "dedup_setjoin_rebuild" -> 55L,
    "gen_spearman" -> 18L,
    // the one-task triangle kernels behind their edge-count gates
    "graph_ktruss" -> 11L,
    "graph_triangles" -> 7L)

  for ((name, ceiling) <- ceilings)
    test(s"job budget: $name runs at most $ceiling jobs") {
      val query = SparkEntry.queries(name)
      query(spark, sf).count() // warm: fixture reads and caches are not the query's jobs
      val (_, c) = Census.measure(spark)(query(spark, sf).count())
      info(s"$name: $c")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      assert(c.jobs <= ceiling, s"$name ran ${c.jobs} jobs, ceiling $ceiling: $c")
    }
}
