package graft

import graft.functions.{CellSums, CentroidTable}
import graft.functions.functions.top_centroids
import graft.ops.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Kernel equivalence for the IVF centroid machinery: the compiled
  * [[graft.functions.TopCentroids]] ranking must return exactly what the
  * composable form it replaced returned (score structs, `array_sort` with
  * a lambda comparator, ids back out), and [[Similarity.ivfCentroids]]'s
  * one-pass Lloyd step exactly what the two-aggregation plan returned
  * (`posexplode`, a milli mean per (cell, position), re-pack by
  * position). The replaced forms live on here, in test code only: the
  * DuckDB oracle mirrors their arithmetic, so any divergence would be a
  * silent hash mismatch at the driver gate.
  */
class IvfKernelSpec extends SparkSpec {

  // ---- the replaced forms ----

  private def hofCentArray(cents: DataFrame): Column = {
    val rows = cents
      .select(col("centroid_id").cast("long"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    array(rows.map { case (id, v) =>
      struct(lit(id).as("centroid_id"), typedLit(v).as("centroid"))
    }: _*)
  }

  private def hofOrder(l: Column, r: Column): Column = {
    val (ls, rs) = (l.getField("csim"), r.getField("csim"))
    val (li, ri) = (l.getField("centroid_id"), r.getField("centroid_id"))
    when(ls.isNull && rs.isNotNull, 1)
      .when(ls.isNotNull && rs.isNull, -1)
      .when(ls > rs, -1)
      .when(ls < rs, 1)
      .when(li < ri, -1)
      .when(li > ri, 1)
      .otherwise(0)
  }

  private def hofTopCentroids(v: Column, centsArr: Column, p: Int): Column =
    slice(
      transform(
        array_sort(
          transform(centsArr, c =>
            struct(
              round(Similarity.cosine(v, c.getField("centroid")), 6).as("csim"),
              c.getField("centroid_id").as("centroid_id"))),
          (l, r) => hofOrder(l, r)),
        s => s.getField("centroid_id")),
      1,
      p)

  private def hofIvfCentroids(corpus: DataFrame, nCentroids: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Float])] = corpus
      .select(col("vec_id").cast("long"), col("embedding"))
      .orderBy(col("vec_id"))
      .limit(nCentroids)
      .collect()
      .toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    (1 to iters).foreach { _ =>
      val assigned = corpus.select(
        col("vec_id"),
        col("embedding"),
        element_at(
          hofTopCentroids(col("embedding"), hofCentArray(cents.toDF("centroid_id", "centroid")), 1),
          1).as("centroid_id"))
      cents = assigned
        .select(col("centroid_id"), posexplode(col("embedding")))
        .groupBy("centroid_id", "pos")
        .agg(
          floor(
            sum(round(col("col").cast("double") * 1000, 0).cast("long")).cast("double") /
              count(lit(1))).cast("long").as("m"))
        .groupBy("centroid_id")
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            s => (s.getField("m").cast("double") / lit(1000.0)).cast("float")).as("centroid"))
        .collect()
        .toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
    }
    cents.toDF("centroid_id", "centroid")
  }

  // ---- helpers ----

  private def table(cents: DataFrame): CentroidTable =
    CentroidTable(cents.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1))))

  /** Per query id: (kernel ids, HOF ids) at rank depth `p`, in `mode`. */
  private def ranked(
      mode: String, vecs: SparkSession => DataFrame, cents: SparkSession => DataFrame, p: Int)
      : Seq[(Long, Seq[Long], Seq[Long])] = {
    val confs =
      (if (mode == "interpreted")
        Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      else Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")) :+
        // a projection over local rows would otherwise be folded on the
        // driver (interpreted) before either path runs
        ("spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    SparkSpec.withIsolatedConf(confs: _*) { s2 =>
      val (v, c) = (vecs(s2), cents(s2))
      // separate projections: the HOF form is CodegenFallback, which would
      // keep a shared projection out of whole-stage codegen
      val kernel = v.select(col("vec_id").cast("long"), top_centroids(col("embedding"), table(c), p))
      val hof = v.select(col("vec_id").cast("long"), hofTopCentroids(col("embedding"), hofCentArray(c), p))
      val codegenned = kernel.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec if w.toString.contains("top_centroids") => w
      }.nonEmpty
      assert(codegenned == (mode == "codegen"), s"$mode run: top_centroids in generated code = $codegenned")
      def ids(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val (k, h) = (ids(kernel), ids(hof))
      assert(k.keySet == h.keySet)
      k.toSeq.sortBy(_._1).map { case (id, ks) => (id, ks, h(id)) }
    }
  }

  private def assertSameRanking(rows: Seq[(Long, Seq[Long], Seq[Long])], what: String): Unit = {
    assert(rows.nonEmpty)
    val diff = rows.filter { case (_, k, h) => k != h }
    assert(diff.isEmpty, s"$what: ${diff.size} of ${rows.size} rows differ, first ${diff.take(3)}")
  }

  private def centroidRows(df: DataFrame): Seq[(Long, Option[Seq[Option[Float]]])] =
    df.collect().toSeq
      .map(r => (r.getLong(0), Option(r.getSeq[Any](1)).map(_.map(x => Option(x).map(_.asInstanceOf[Float])))))
      .sortBy(_._1)

  private val embeddings = (s: SparkSession) => s.read.parquet(s"$sf/embeddings.parquet")

  private def vecsOf(s: SparkSession, rows: Seq[(Long, Seq[java.lang.Float])]): DataFrame = {
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def f(xs: Any*): Seq[java.lang.Float] =
    if (xs == Seq(null)) null
    else xs.map {
      case null => null
      case x: Float => java.lang.Float.valueOf(x)
      case x: Int => java.lang.Float.valueOf(x.toFloat)
      case x: Double => java.lang.Float.valueOf(x.toFloat)
    }

  // centroids: a duplicate pair (1, 2), a zero-norm one (3), one with a
  // null element (4), a short one (5), a null one (6), and two tied at
  // the same angle but different lengths (7, 8)
  private val degenerateCentroids = Seq(
    0L -> f(1, 0, 0),
    1L -> f(0, 1, 0),
    2L -> f(0, 1, 0),
    3L -> f(0, 0, 0),
    4L -> f(1, null, 1),
    5L -> f(0, 0),
    6L -> f(null),
    7L -> f(0, 0, 1),
    8L -> f(0, 0, 2))

  // queries: on a duplicate, equidistant from several, zero-norm, with a
  // null element, short, long, null, empty, and a non-finite element
  private val degenerateQueries = Seq(
    100L -> f(0, 1, 0),
    101L -> f(1, 1, 1),
    102L -> f(0, 0, 0),
    103L -> f(1, null, 0),
    104L -> f(1, 1),
    105L -> f(0, 1, 1, 5),
    106L -> f(null),
    107L -> f(),
    108L -> f(Float.NaN, 1, 0),
    109L -> f(0.3, 0.3, 0.3),
    110L -> f(-1, 0, 0))

  private def centroidFrame(s: SparkSession, rows: Seq[(Long, Seq[java.lang.Float])]): DataFrame =
    vecsOf(s, rows).select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))

  // ---- TopCentroids ≡ the HOF ranking ----

  for (mode <- Seq("interpreted", "codegen")) {
    test(s"top_centroids ≡ the HOF ranking on the sf0.001 embeddings ($mode)") {
      val seeds = (s: SparkSession) =>
        embeddings(s).filter(col("vec_id") < 16)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      for (p <- Seq(1, 4, 16, 40))
        assertSameRanking(ranked(mode, embeddings, seeds, p), s"seed centroids, p = $p")
      val trained = Similarity.ivfCentroids(embeddings(spark), 8, iters = 2).collect().toSeq
      val lloyd = (s: SparkSession) => {
        import s.implicits._
        trained.map(r => (r.getLong(0), r.getSeq[Float](1))).toDF("centroid_id", "centroid")
      }
      for (p <- Seq(1, 3, 8))
        assertSameRanking(ranked(mode, embeddings, lloyd, p), s"Lloyd centroids, p = $p")
    }

    test(s"top_centroids ≡ the HOF ranking on degenerate vectors and centroids ($mode)") {
      val n = degenerateCentroids.size
      for (p <- Seq(0, 1, 2, 4, n, n + 3))
        assertSameRanking(
          ranked(
            mode,
            s => vecsOf(s, degenerateQueries),
            s => centroidFrame(s, degenerateCentroids),
            p),
          s"degenerate, p = $p")
      // a table whose every centroid scores null ranks by id alone
      assertSameRanking(
        ranked(
          mode,
          s => vecsOf(s, degenerateQueries),
          s => centroidFrame(s, Seq(9L -> f(0, 0, 0), 3L -> f(null), 5L -> f(1, null, 1))),
          3),
        "all-null scores")
    }
  }

  test("top_centroids: a null vector routes to the lowest ids; p beyond the table returns all") {
    val s = spark
    import s.implicits._
    val t = CentroidTable(Seq(5L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 9L -> Seq(1f, 1f)))
    val got = Seq((1L, null: Seq[Float]), (2L, Seq(1f, 0.1f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), top_centroids(col("embedding"), t, 10).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(2L, 5L, 9L))
    assert(got(2L) == Seq(5L, 9L, 2L))
  }

  // ---- ivfCentroids ≡ the two-aggregation Lloyd plan ----

  test("ivfCentroids ≡ the two-aggregation Lloyd plan on the sf0.001 embeddings") {
    val e = embeddings(spark)
    for ((nc, iters) <- Seq((4, 0), (4, 3), (16, 1), (16, 3), (64, 2))) {
      val got = centroidRows(Similarity.ivfCentroids(e, nc, iters))
      val want = centroidRows(hofIvfCentroids(e, nc, iters))
      assert(got == want, s"nCentroids = $nc, iters = $iters")
    }
  }

  test("ivfCentroids ≡ the two-aggregation Lloyd plan on null, short and empty vectors") {
    // id 0 and 1 are duplicate seeds: every tie goes to 0, so cell 1
    // loses all members and drops out; null vectors (5, 12) route to the
    // lowest id; the null element of 20 counts without adding; 7 is
    // short; 8 is empty; elements on milli half-way points round half-up
    val corpus = vecsOf(spark, Seq(
      0L -> f(1, 0, 0),
      1L -> f(1, 0, 0),
      2L -> f(0, 1, 0),
      3L -> f(0, 0, 1),
      4L -> f(0.9, 0.1, 0.0005),
      5L -> f(null),
      7L -> f(0.1, 0.9),
      8L -> f(),
      9L -> f(0.0025, -0.0025, 0.95),
      10L -> f(-0.0015, 0.7, 0.3),
      11L -> f(0.2, 0.2, 0.9),
      12L -> f(null),
      20L -> f(0.8, null, 0.1)))
    for ((nc, iters) <- Seq((2, 1), (4, 0), (4, 1), (4, 2), (4, 5), (12, 3))) {
      val got = centroidRows(Similarity.ivfCentroids(corpus, nc, iters))
      val want = centroidRows(hofIvfCentroids(corpus, nc, iters))
      assert(got == want, s"nCentroids = $nc, iters = $iters")
    }
    val c4 = centroidRows(Similarity.ivfCentroids(corpus, 4, 1)).toMap
    assert(!c4.contains(1L), "the duplicate seed's cell must drop out")
    // cell 0 holds 0, 1, 4, the null vectors and 20 (null element: its
    // cosine is null everywhere, so it routes to the lowest id): position
    // 1 counts 20 but sums only 0, 0 and 100 milli
    assert(c4(0L).get(1) == Some((math.floor(100.0 / 4).toLong / 1000.0).toFloat))
  }

  test("ivfCentroids refuses a centroid with a null element, as the two-aggregation plan did") {
    // a seed with a null element, and a cell whose members are all null
    // at position 1 (seed 0 is a null vector that adds nothing, and 2's
    // null cosines route it to the lowest id): the old plan failed
    // encoding either centroid table
    val seedNull = vecsOf(spark, Seq(0L -> f(0.9, null, 0.1), 1L -> f(0, 1, 0)))
    val cellNull = vecsOf(spark, Seq(0L -> f(null), 1L -> f(0, 1, 0), 2L -> f(0.9, null, 0.1)))
    for ((c, nc, iters) <- Seq((seedNull, 2, 0), (seedNull, 2, 1), (cellNull, 2, 1))) {
      withClue(s"old plan, nCentroids = $nc, iters = $iters: ")(
        intercept[Exception](hofIvfCentroids(c, nc, iters).collect()))
      val e = intercept[IllegalArgumentException](Similarity.ivfCentroids(c, nc, iters).collect())
      assert(e.getMessage.contains("null element"))
    }
    // the Lloyd pass reads rows raw, so a non-float vector is refused up front
    val doubles = spark.range(4).select(col("id").as("vec_id"), array(col("id").cast("double")).as("embedding"))
    intercept[IllegalArgumentException](Similarity.ivfCentroids(doubles, 2, 1))
    // a null element beside a summed one is counted, not refused
    val partial = vecsOf(spark, Seq(0L -> f(1, 0, 0), 1L -> f(0.9, null, 0.1)))
    assert(centroidRows(Similarity.ivfCentroids(partial, 1, 1)) == centroidRows(hofIvfCentroids(partial, 1, 1)))
  }

  test("milli rounding is Spark's round(x * 1000, 0) as bigint on every float edge") {
    val s = spark
    import s.implicits._
    val xs = Seq(0f, -0f, 0.0005f, -0.0005f, 0.0015f, -0.0015f, 0.0025f, 1.2345f, -1.2345f,
      123456.789f, Float.MinPositiveValue, 9.99e-4f, 2.4999999e-3f, 1e9f, -1e9f)
    val spark1 = xs.toDF("x")
      .select(round(col("x").cast("double") * 1000, 0).cast("long"))
      .as[Long].collect().toSeq
    assert(xs.map(CellSums.milli) == spark1)
    assertThrows[ArithmeticException](CellSums.milli(Float.NaN))
    assertThrows[ArithmeticException](CellSums.milli(Float.PositiveInfinity))
  }
}
