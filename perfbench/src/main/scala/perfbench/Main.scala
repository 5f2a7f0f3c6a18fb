package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds this and launches it:
  *
  * {{{
  * Main --workload ingest|calls|ops --seed N --seconds S --trace 0|1
  *      --data <source tables> --work <fresh scratch dir> --pinned <pinned.json>
  * Main --pin <out.json> --data <source tables> --work <dir>
  * Main --prepare 1 --data <source tables> --work <dir>
  * }}}
  *
  * An untraced run measures the named workload and prints its end-to-end
  * metrics. A traced run attaches [[Trace]], runs the named workload as
  * the untraced run does and the other two in a short form, and prints the
  * per-layer metrics. The last stdout line is the result JSON; the exit
  * code is 0 only if every check passed.
  */
object Main {
  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      work: String,
      pinned: String)

  private val t0 = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${kv("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${kv("work")}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session up")
    val ok =
      try {
        if (kv.contains("prepare")) {
          // once per build, before any measured run: fill the Materialize
          // cache, and load the classes of each workload's first operation
          // (an ingest cycle, whose load is the one `calls` sets up with,
          // and an ops query) for run.py's class-data archive
          Scratch.warmUp(spark)
          graft.etl.NessusSynth(spark, kv("data"))
          Ingest.cycle(spark, Ingest.floorWorlds(0), fresh(s"${kv("work")}/prepare"), None, new Report, checkWarehouse = true)
          Ops.run(spark, kv("data"), "gen_spearman")
          Ops.clearStores()
          true
        } else kv.get("pin") match {
          case Some(out) => Scratch.warmUp(spark); pin(spark, kv("data"), out); true
          case None =>
            val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
              kv("trace") == "1", kv("data"), kv("work"), kv("pinned"))
            val report = new Report
            try {
              if (o.trace) traced(spark, o, report, cores) else untraced(spark, o, report)
            } catch { case e: Throwable => report.fail(s"${o.workload} run", e) }
            log("done")
            println(report.json)
            report.correct
        }
      } finally spark.stop()
    System.exit(if (ok) 0 else 1)
  }

  def readPinned(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(Paths.get(path)))
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def shuffled[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def fresh(path: String): String = {
    Files2.delete(Paths.get(path))
    Files.createDirectories(Paths.get(path))
    path
  }

  // ---- the three workloads: set-ups, then the measured loop ----

  /** How often a workload sets up (the median is `setup_s`) and the fewest
    * timed loops (cycles, rounds, passes) it runs. A traced run gives the
    * other two workloads the short form: one set-up and one loop, and no
    * set-up for `ops`, whose set-up only warms up.
    */
  final case class Shape(setups: Int, minLoops: Int)
  val FullShape = Map("ingest" -> Shape(2, 1), "calls" -> Shape(2, 6), "ops" -> Shape(3, 1))
  val ShortShape = Map("ingest" -> Shape(1, 1), "calls" -> Shape(1, 1), "ops" -> Shape(0, 1))

  /** `setupS` holds the set-up cycles over the floor world. */
  final case class IngestResult(setupS: Seq[Double], cycles: Seq[Ingest.Cycle])

  def ingest(spark: SparkSession, o: Opts, report: Report, trace: Option[Trace], shape: Shape): IngestResult = {
    val setup = (0 until shape.setups).map(_ =>
      Ingest.cycle(spark, Ingest.floorWorlds(o.seed), fresh(s"${o.work}/ingest-setup"), trace, report, checkWarehouse = false))
    val worlds = Ingest.worlds(o.seed)
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Ingest.Cycle]
    var i = 0
    while (i < shape.minLoops || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      out += Ingest.cycle(spark, worlds, fresh(s"${o.work}/ingest"), trace, report, checkWarehouse = true)
      i += 1
    }
    def show(cs: Seq[Ingest.Cycle]) =
      cs.map(c => f"${c.seconds}%.2f (export ${c.exportS.sum}%.2f, rerun ${c.noopS.sum}%.2f, load ${c.loadS}%.2f)").mkString(", ")
    log(s"ingest: set-up ${show(setup)} s; cycles ${show(out.result())} s")
    IngestResult(setup.map(_.seconds), out.result())
  }

  final case class CallSample(kind: String, seconds: Double, planS: Double, execS: Double, rows: Long, c: Counters)
  final case class CallsResult(setupS: Seq[Double], rounds: Seq[Seq[CallSample]]) {
    /** A typical round: the sum over CALL types of each type's median
      * latency (steadier than the median of round sums, whose seeded
      * parameter mixes differ round to round).
      */
    def typicalRound: Double =
      Calls.Types.map(t => Stat.median(rounds.flatten.filter(_.kind == t).map(_.seconds))).sum
  }

  def calls(spark: SparkSession, o: Opts, report: Report, trace: Option[Trace], shape: Shape): CallsResult = {
    val pinned = readPinned(o.pinned)
    // the synthesized source warehouse is input, not set-up: it is served
    // from the Materialize cache, which run.py fills before the first run
    val synth = graft.etl.NessusSynth(spark, o.data)
    // set-up: warehouse builds into fresh dirs; the CALLs read the last
    val whs = (1 to shape.setups).map(i => s"${o.work}/calls-wh-$i")
    val setupS = whs.map { wh =>
      val (_, t) = Stat.time(trace.fold(Calls.load(spark, synth, wh))(_.scoped("setup")(Calls.load(spark, synth, wh))))
      trace.foreach(_.take("setup"))
      Scratch.release(spark)
      t
    }
    val wh = whs.last
    val api = new graft.api.Nessus(spark, wh)
    val r = new SplittableRandom(o.seed)
    val t0 = System.nanoTime()
    val rounds = Seq.newBuilder[Seq[CallSample]]
    var n = 0
    while (n < shape.minLoops || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      rounds += shuffled(Calls.Types, r).map { kind =>
        val call = Calls.draw(kind, r, pinned)
        val scope = s"calls.$kind"
        def go() = {
          val t1 = System.nanoTime()
          val df = call.run(api)
          if (trace.isDefined) df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          val rows = df.collect().toSeq
          val t3 = System.nanoTime()
          (df, rows, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        }
        val (df, rows, planS, execS) = trace.fold(go())(_.scoped(scope)(go()))
        report.check(s"CALL ${call.key} equals ScanQueries over NessusSynth") {
          pinned.get(call.key).contains(Calls.digest(rows, df.columns.toSeq))
        }
        CallSample(kind, planS + execS, planS, execS, rows.size.toLong, trace.fold(Counters())(_.take(scope)))
      }
      n += 1
    }
    log(f"calls: set-up ${setupS.mkString(", ")} s; ${rounds.result().flatten.size} calls")
    CallsResult(setupS, rounds.result())
  }

  final case class OpsSample(query: String, seconds: Double, c: Counters)
  final case class OpsResult(setupS: Seq[Double], passes: Seq[Seq[OpsSample]])

  def ops(spark: SparkSession, o: Opts, report: Report, trace: Option[Trace], shape: Shape): OpsResult = {
    val pinned = readPinned(o.pinned)
    // set-up: the JIT warm-up job plus one read of each input table
    val setupS =
      (1 to shape.setups).map(_ => Stat.time {
        Scratch.warmUp(spark)
        Seq("embeddings", "orders", "lineitem", "documents").foreach(t => spark.read.parquet(s"${o.data}/$t.parquet").count())
      }._2)
    val r = new SplittableRandom(o.seed)
    val t0 = System.nanoTime()
    val passes = Seq.newBuilder[Seq[OpsSample]]
    var n = 0
    while (n < shape.minLoops || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      passes += shuffled(Ops.Queries, r).map { q =>
        Ops.clearStores()
        val scope = s"ops.$q"
        val (rows, t) = Stat.time(trace.fold(Ops.run(spark, o.data, q))(_.scoped(scope)(Ops.run(spark, o.data, q))))
        report.check(s"ops query $q output equals its pinned digest") {
          pinned.get(s"ops/$q").contains(Ops.digest(rows))
        }
        Scratch.release(spark)
        OpsSample(q, t, trace.fold(Counters())(_.take(scope)))
      }
      n += 1
    }
    Ops.clearStores()
    log(s"ops: set-up ${setupS.mkString(", ")} s; passes ${passes.result().map(_.map(x => f"${x.query}=${x.seconds}%.2f").mkString(" ")).mkString("; ")}")
    OpsResult(setupS, passes.result())
  }

  // ---- reporting ----

  private def untraced(spark: SparkSession, o: Opts, report: Report): Unit = {
    val (setupS, cycleS) = o.workload match {
      case "ingest" =>
        val r = ingest(spark, o, report, None, FullShape("ingest"))
        (r.setupS, r.cycles.map(_.seconds))
      case "calls" =>
        val r = calls(spark, o, report, None, FullShape("calls"))
        (r.setupS, Seq(r.typicalRound))
      case "ops" =>
        val r = ops(spark, o, report, None, FullShape("ops"))
        (r.setupS, r.passes.map(_.map(_.seconds).sum))
      case w => sys.error(s"unknown workload $w")
    }
    report.put("setup_s", Stat.median(setupS), "s")
    report.put("cycle_s", Stat.median(cycleS), "s")
  }

  /** The traced run: first the named workload exactly as untraced (so its
    * traced cycle time minus the untraced `cycle_s` is the tracing
    * overhead), then the other two in their shortest form, so every layer
    * reports.
    */
  private def traced(spark: SparkSession, o: Opts, report: Report, cores: Int): Unit = {
    val trace = new Trace(spark.sparkContext)
    def opts(w: String) = if (w == o.workload) o else o.copy(seconds = 0)
    def shape(w: String) = if (w == o.workload) FullShape(w) else ShortShape(w)
    lazy val in = ingest(spark, opts("ingest"), report, Some(trace), shape("ingest"))
    lazy val ca = calls(spark, opts("calls"), report, Some(trace), shape("calls"))
    lazy val op = ops(spark, opts("ops"), report, Some(trace), shape("ops"))
    o.workload match {
      case "ingest" => in
      case "calls" => ca
      case "ops" => op
      case w => sys.error(s"unknown workload $w")
    }
    (in, ca, op)
    trace.stop()
    def put(name: String, v: Double, unit: String) = report.put(name, v, unit)

    val c = in.cycles.last
    val cycleS = Stat.median(in.cycles.map(_.seconds))
    put("ingest.cycle_s", cycleS, "s")
    put("ingest.floor_s", in.setupS.last, "s")
    put("ingest.floor_share", in.setupS.last / cycleS, "ratio")
    put("export.wall_s", c.exportS.sum, "s")
    put("export.jobs", c.export.jobs, "count")
    put("export.task_run_s", c.export.taskRunS, "s")
    put("export.landed_bytes", c.landedBytes, "bytes")
    put("export.gets", c.gets.sum, "count")
    Gets.Kinds.foreach { case (k, name) => put(s"export.gets.$name", c.gets(k), "count") }
    put("export_noop.wall_s", c.noopS.sum, "s")
    put("export_noop.jobs", c.noop.jobs, "count")
    put("export_noop.gets", c.noopGets, "count")
    put("load.wall_s", c.loadS, "s")
    put("load.jobs", c.load.jobs, "count")
    put("load.tasks", c.load.tasks, "count")
    put("load.task_run_s", c.load.taskRunS, "s")
    put("load.task_cpu_s", c.load.taskCpuS, "s")
    put("load.shuffle_write_bytes", c.load.shuffleWriteBytes, "bytes")
    put("load.doc_read_ratio", c.load.jsonInputBytes.toDouble / c.landedBytes, "ratio")
    put("load.bytes_written", c.load.outputBytes, "bytes")
    put("load.space_ratio", c.tableBytes.map(_._2).sum.toDouble / c.landedBytes, "ratio")
    c.tableBytes.foreach { case (t, b) => put(s"load.table_bytes.$t", b, "bytes") }

    put("setup.warehouse_s", Stat.median(ca.setupS), "s")
    put("calls.round_s", ca.typicalRound, "s")
    val samples = ca.rounds.flatten
    Calls.Types.foreach { t =>
      val s = samples.filter(_.kind == t)
      val sum = s.map(_.c).reduce(_ + _)
      val n = s.size.toDouble
      put(s"calls.$t.p50_s", Stat.median(s.map(_.seconds)), "s")
      put(s"calls.$t.plan_s", Stat.median(s.map(_.planS)), "s")
      put(s"calls.$t.exec_s", Stat.median(s.map(_.execS)), "s")
      put(s"calls.$t.jobs", sum.jobs / n, "count")
      put(s"calls.$t.tasks", sum.tasks / n, "count")
      put(s"calls.$t.task_run_s", sum.taskRunS / n, "s")
      put(s"calls.$t.bytes_read", sum.inputBytes / n, "bytes")
      put(s"calls.$t.rows_read_per_row", sum.inputRecords.toDouble / math.max(1L, s.map(_.rows).sum), "ratio")
    }

    val pass = op.passes.head
    put("ops.pass_s", pass.map(_.seconds).sum, "s")
    pass.foreach { s =>
      val q = s"ops.${s.query}"
      put(s"$q.wall_s", s.seconds, "s")
      put(s"$q.jobs", s.c.jobs, "count")
      put(s"$q.aqe_jobs", s.c.aqeJobs, "count")
      put(s"$q.stages", s.c.stages, "count")
      put(s"$q.tasks", s.c.tasks, "count")
      put(s"$q.task_run_s", s.c.taskRunS, "s")
      put(s"$q.task_cpu_s", s.c.taskCpuS, "s")
      put(s"$q.shuffle_bytes", s.c.shuffleWriteBytes, "bytes")
      put(s"$q.spill_bytes", s.c.spillBytes, "bytes")
      put(s"$q.core_util", s.c.taskRunS / (s.seconds * cores), "ratio")
    }
    val byModule = pass.flatMap(_.c.jobsByModule.toSeq).groupBy(kv => Ops.moduleOf(kv._1)).map { case (m, kvs) => m -> kvs.map(_._2).sum }
    Ops.Modules.foreach(m => put(s"ops.jobs_by_module.$m", byModule.getOrElse(m, 0L).toDouble, "count"))
  }

  /** Writes the pinned digests: every CALL of the parameter space through
    * `ScanQueries` over `NessusSynth`, and each ops query's output.
    */
  private def pin(spark: SparkSession, data: String, out: String): Unit = {
    val callPins = Calls.pin(spark, data)
    val opsPins = Ops.Queries.map { q =>
      Ops.clearStores()
      val d = Ops.digest(Ops.run(spark, data, q))
      Scratch.release(spark)
      s"ops/$q" -> d
    }
    Ops.clearStores()
    val body = (opsPins ++ callPins).map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(out), body)
  }
}
