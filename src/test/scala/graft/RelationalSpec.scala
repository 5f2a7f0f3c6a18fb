package graft

import graft.ops.{Checks, Corpus, Relational, Stats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit semantics + plan-shape guards for the relational-extension
  * operators: as-of join, bucketized range join, exact group quantiles,
  * and n-gram contamination.
  */
class RelationalSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def planOf(df: DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.toString
  }

  // ---- as-of join ---------------------------------------------------------

  private lazy val trades = Seq(
    // (event_id, key, ts)
    (100L, 1L, 10L),
    (101L, 1L, 20L),
    (102L, 1L, 5L),
    (103L, 2L, 50L),
    (104L, 3L, 7L)
  ).toDF("event_id", "user_id", "ts_us")

  private lazy val quotes = Seq(
    // (event_id, key, ts, q_ts, q_val)
    (1L, 1L, 8L, 8L, 1.0),
    (2L, 1L, 10L, 10L, 2.0), // equal-ts quote: prior-OR-EQUAL must pick it
    (3L, 1L, 15L, 15L, 3.0),
    (4L, 2L, 60L, 60L, 4.0) // after the only key-2 trade: no match
  ).toDF("event_id", "user_id", "ts_us", "q_ts", "q_val")

  private lazy val asof: Map[Long, (Option[Long], Option[Double])] = Relational
    .asOfJoin(trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"))
    .select("event_id", "q_ts", "q_val")
    .collect()
    .map(r =>
      r.getLong(0) -> ((
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))))
    .toMap

  test("asOfJoin picks the latest right row at-or-before each left row") {
    assert(asof(100L) == (Some(10L), Some(2.0))) // equal ts counts
    assert(asof(101L) == (Some(15L), Some(3.0)))
    assert(asof(102L) == (None, None)) // earliest trade precedes all quotes
  }

  test("asOfJoin yields nulls when the right side has no prior row for the key") {
    assert(asof(103L) == (None, None)) // quote is after the trade
    assert(asof(104L) == (None, None)) // key has no quotes at all
  }

  test("asOfJoin at equal ts with multiple right rows picks the highest ordCol deterministically") {
    val r = Seq((1L, 1L, 10L, 7.0), (2L, 1L, 10L, 9.0))
      .toDF("event_id", "user_id", "ts_us", "q_val")
    val l = Seq((50L, 1L, 10L)).toDF("event_id", "user_id", "ts_us")
    val out = Relational.asOfJoin(l, r, "user_id", "ts_us", "event_id", Seq("q_val")).collect()
    assert(out.head.getAs[Double]("q_val") == 9.0)
  }

  test("asOfJoin plan: one exchange on the key, a sort, and NO join operator") {
    val p = planOf(
      Relational.asOfJoin(trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val")))
    assert(!p.contains("Join"), "as-of must be union+window, not a join:\n" + p.take(1500))
    val nEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(nEx >= 1 && nEx <= 2,
      "at most one exchange on the key per union branch (no extra shuffles):\n" + p.take(1500))
    assert(!p.contains("SinglePartition"), "no global-window single-partition exchange")
  }

  test("asOfJoinTolerance: stale matches null out, per column independently") {
    val s = spark
    import s.implicits._
    // q_val set at ts=5 (only), q_ts at ts=8 (only); left at ts=12 with
    // tolerance 5: q_ts aged 4 → kept, q_val aged 7 → nulled
    val r = Seq(
      (1L, 1L, 5L, Option.empty[Long], Option(1.5)),
      (2L, 1L, 8L, Option(8L), Option.empty[Double])
    ).toDF("event_id", "user_id", "ts_us", "q_ts", "q_val")
    val l = Seq((90L, 1L, 12L), (91L, 1L, 8L)).toDF("event_id", "user_id", "ts_us")
    val out = Relational
      .asOfJoinTolerance(l, r, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), 5L)
      .collect()
      .map(row => row.getLong(0) -> ((Option(row.get(3)), Option(row.get(4)))))
      .toMap
    assert(out(90L) == (Some(8L), None))
    // at ts=8: q_ts aged 0 kept, q_val aged 3 kept (equal-ts match counts)
    assert(out(91L) == (Some(8L), Some(1.5)))
    // tolerance large enough degenerates to the plain asOfJoin
    val loose = Relational
      .asOfJoinTolerance(
        trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), 1000000L)
      .select("event_id", "q_ts", "q_val")
      .collect()
      .map(row => (row.getLong(0), Option(row.get(1)), Option(row.get(2))))
      .toSet
    val plain = Relational
      .asOfJoin(trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"))
      .select("event_id", "q_ts", "q_val")
      .collect()
      .map(row => (row.getLong(0), Option(row.get(1)), Option(row.get(2))))
      .toSet
    assert(loose == plain)
  }

  test("asOfJoinForwardTolerance: far-future matches null out; loose bound equals plain forward") {
    val s = spark
    import s.implicits._
    // q_val first appears at ts=95, q_ts at ts=92; left at ts=90 with
    // tolerance 3: q_ts (2 ahead) kept, q_val (5 ahead) nulled
    val r = Seq(
      (1L, 1L, 95L, Option.empty[Long], Option(1.5)),
      (2L, 1L, 92L, Option(92L), Option.empty[Double])
    ).toDF("event_id", "user_id", "ts_us", "q_ts", "q_val")
    val l = Seq((90L, 1L, 90L)).toDF("event_id", "user_id", "ts_us")
    val out = Relational
      .asOfJoinForwardTolerance(l, r, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), 3L)
      .collect().head
    assert(Option(out.get(3)) == Some(92L) && Option(out.get(4)).isEmpty)
    val loose = Relational
      .asOfJoinForwardTolerance(
        trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), 1000000L)
      .select("event_id", "q_ts", "q_val").collect()
      .map(row => (row.getLong(0), Option(row.get(1)), Option(row.get(2)))).toSet
    val plain = Relational
      .asOfJoinForward(trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"))
      .select("event_id", "q_ts", "q_val").collect()
      .map(row => (row.getLong(0), Option(row.get(1)), Option(row.get(2)))).toSet
    assert(loose == plain)
  }

  test("asOfJoinForward picks the earliest right row at-or-after; nulls past the last; low ord on ties") {
    val fwd = Relational
      .asOfJoinForward(trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"))
      .select("event_id", "q_ts", "q_val")
      .collect()
      .map(r =>
        r.getLong(0) -> ((
          Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(fwd(100L) == (Some(10L), Some(2.0))) // equal ts counts (at-or-after)
    assert(fwd(102L) == (Some(8L), Some(1.0))) // earliest trade sees the first quote
    assert(fwd(101L) == (None, None)) // past the last key-1 quote
    assert(fwd(103L) == (Some(60L), Some(4.0))) // backward missed this; forward matches
    assert(fwd(104L) == (None, None)) // key has no quotes at all
    // ties on (ts): the LOWEST ordCol right row wins (first in frame order)
    val r = Seq((1L, 1L, 10L, 7.0), (2L, 1L, 10L, 9.0))
      .toDF("event_id", "user_id", "ts_us", "q_val")
    val l = Seq((50L, 1L, 10L)).toDF("event_id", "user_id", "ts_us")
    val out = Relational.asOfJoinForward(l, r, "user_id", "ts_us", "event_id", Seq("q_val"))
    assert(out.collect().head.getAs[Double]("q_val") == 7.0)
    // same plan contract as the backward variant: union + window, no join
    val p = planOf(
      Relational.asOfJoinForward(trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val")))
    assert(!p.contains("Join"), "forward as-of must be union+window, not a join:\n" + p.take(1500))
    assert(!p.contains("SinglePartition"))
  }

  test("asOfJoinBucketed is row-identical to asOfJoin at every bucket width") {
    def rows(df: DataFrame) = df
      .select("event_id", "q_ts", "q_val")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .toSet
    val plain = rows(
      Relational.asOfJoin(trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val")))
    // width 1 (every row its own bucket — maximal carry-in traffic),
    // width 7 (boundaries between quotes), width 1000 (one bucket — pure
    // within-bucket path): all must reproduce the reference exactly
    for (w <- Seq(1L, 7L, 1000L)) {
      val bucketed = rows(
        Relational.asOfJoinBucketed(
          trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), w))
      assert(bucketed == plain, s"bucketUnits=$w diverged")
    }
  }

  test("asOfJoinForwardBucketed is row-identical to asOfJoinForward at every bucket width") {
    def rows(df: DataFrame) = df
      .select("event_id", "q_ts", "q_val")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .toSet
    val plain = rows(
      Relational.asOfJoinForward(
        trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val")))
    for (w <- Seq(1L, 7L, 1000L)) {
      val bucketed = rows(
        Relational.asOfJoinForwardBucketed(
          trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), w))
      assert(bucketed == plain, s"bucketUnits=$w diverged")
    }
    // per-column carry-back across empty and null-payload buckets, the
    // forward mirror of the backward carry test: q_val from ts=95,
    // q_ts from ts=92 — each column tracks its own EARLIEST later value
    val r = Seq(
      (1L, 1L, 95L, Option.empty[Long], Option(1.5)),
      (2L, 1L, 92L, Option(92L), Option.empty[Double])
    ).toDF("event_id", "user_id", "ts_us", "q_ts", "q_val")
    val l = Seq((90L, 1L, 5L)).toDF("event_id", "user_id", "ts_us")
    for (w <- Seq(1L, 10L)) {
      val out = Relational
        .asOfJoinForwardBucketed(l, r, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), w)
        .collect().head
      assert(out.getAs[Long]("q_ts") == 92L, s"w=$w")
      assert(out.getAs[Double]("q_val") == 1.5, s"w=$w")
    }
  }

  test("asOfJoinNearestBucketed is row-identical to asOfJoinNearest at every bucket width") {
    def rows(df: DataFrame) = df
      .select("event_id", "q_ts", "q_val")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .toSet
    for (tol <- Seq(None, Some(15L))) {
      val plain = rows(
        Relational.asOfJoinNearest(
          trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), tol))
      for (w <- Seq(1L, 7L, 1000L)) {
        val bucketed = rows(
          Relational.asOfJoinNearestBucketed(
            trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), w, tol))
        assert(bucketed == plain, s"bucketUnits=$w tolerance=$tol diverged")
      }
    }
  }

  test("asOfJoinBucketed carries per-column last-non-null across empty and null-payload buckets") {
    // key 1: quote at ts=5 sets q_val only (q_ts null); quote at ts=8 sets
    // q_ts only (q_val null); trade at ts=95 is many empty buckets later.
    // Per-column semantics: q_val from ts=5, q_ts from ts=8 — the carry
    // must track each column's own latest bucket, not the latest row.
    val r = Seq(
      (1L, 1L, 5L, Option.empty[Long], Option(1.5)),
      (2L, 1L, 8L, Option(8L), Option.empty[Double])
    ).toDF("event_id", "user_id", "ts_us", "q_ts", "q_val")
    val l = Seq((90L, 1L, 95L)).toDF("event_id", "user_id", "ts_us")
    for (w <- Seq(1L, 10L)) {
      val out = Relational
        .asOfJoinBucketed(l, r, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), w)
        .collect()
      assert(out.length == 1)
      assert(Option(out.head.get(out.head.fieldIndex("q_ts"))) == Some(8L), s"w=$w")
      assert(Option(out.head.get(out.head.fieldIndex("q_val"))) == Some(1.5), s"w=$w")
    }
  }

  test("asOfJoinBucketed plan: raw-row window partitions by (key, bucket), never key alone") {
    val df = Relational.asOfJoinBucketed(
      trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), 10L)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    // the per-key window must only run over bucket-aggregated carry rows;
    // every window over raw postings must include the bucket in its
    // partitioning — textual guard: each "windowspecdefinition(user_id#..,"
    // without __bkt in its partition list would be a per-key raw window
    val winSpecs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(winSpecs.nonEmpty)
    val perKeyOnly = winSpecs.filterNot(_.contains("__bkt"))
    // exactly the carry windows (ordered by __sb) may omit __bkt from
    // partitioning — they run over per-bucket aggregates
    assert(perKeyOnly.forall(_.contains("__sb")),
      "raw-row window partitioned by key alone:\n" + winSpecs.mkString("\n"))
  }

  // ---- interval coalescing ------------------------------------------------

  private def spans(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("user_id", "start_us", "end_us", "n_merged")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("coalesceIntervals merges overlap, abutment, and transitive chains; keeps disjoint spans") {
    val iv = Seq(
      // key 1: [0,10] ∪ [5,8] (contained) ∪ [10,20] (abuts) → one span,
      // then a gap, then [30,35] alone
      (1L, 0L, 10L),
      (1L, 5L, 8L),
      (1L, 10L, 20L),
      (1L, 30L, 35L),
      // key 2: chain threads A[0,10]-B[9,12]-C[11,25] — A and C never
      // touch directly but must still land in one span
      (2L, 0L, 10L),
      (2L, 9L, 12L),
      (2L, 11L, 25L)
    ).toDF("user_id", "start_us", "end_us")
    val out = spans(Relational.coalesceIntervals(iv, "user_id", "start_us", "end_us"))
    assert(out == Set((1L, 0L, 20L, 3L), (1L, 30L, 35L, 1L), (2L, 0L, 25L, 3L)))
  }

  test("intervalGaps: one row per silence window between merged spans; single-span keys emit none") {
    val iv = Seq(
      // key 1: spans [0,20] and [30,35] -> one gap (20,30); the contained
      // and abutting intervals must not fabricate gaps
      (1L, 0L, 10L),
      (1L, 5L, 8L),
      (1L, 10L, 20L),
      (1L, 30L, 35L),
      (1L, 50L, 60L),
      // key 2: everything chains into one span -> no gaps
      (2L, 0L, 10L),
      (2L, 9L, 12L),
      (2L, 11L, 25L)
    ).toDF("user_id", "start_us", "end_us")
    val got = Relational.intervalGaps(iv, "user_id", "start_us", "end_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 20L, 30L, 10L), (1L, 35L, 50L, 15L)))
  }

  test("coalesceIntervals clamps end<start to a point and merges duplicates deterministically") {
    val iv = Seq(
      (1L, 10L, 3L), // degenerate: clamps to [10,10]
      (1L, 10L, 10L), // identical point: merges into the same span
      (1L, 11L, 12L) // strictly after the point: separate span
    ).toDF("user_id", "start_us", "end_us")
    val out = spans(Relational.coalesceIntervals(iv, "user_id", "start_us", "end_us"))
    assert(out == Set((1L, 10L, 10L, 2L), (1L, 11L, 12L, 1L)))
  }

  test("coalesceIntervals plan: one exchange on the key, both windows reuse it, no join") {
    val iv = Seq((1L, 0L, 10L), (1L, 5L, 8L)).toDF("user_id", "start_us", "end_us")
    val df = Relational.coalesceIntervals(iv, "user_id", "start_us", "end_us")
    val p = planOf(df)
    assert(!p.contains("Join"), "chain numbering must be windows, not a self-join:\n" + p.take(1500))
    assert(!p.contains("SinglePartition"), "no global-window single-partition exchange")
    val nEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(nEx == 1, s"both window passes must share ONE key exchange, saw $nEx:\n" + p.take(1500))
  }

  // ---- global cumulative sum ----------------------------------------------

  private lazy val cumFixture = Seq(
    (1L, 5L), (2L, 0L), (3L, 7L), (4L, 2L), (5L, 11L), (6L, 1L), (7L, 0L), (8L, 3L)
  ).toDF("id", "w")

  private lazy val cumExpect: Map[Long, Long] = {
    // reference: the forbidden-at-scale single-partition window, fine on 8 rows
    import org.apache.spark.sql.expressions.Window
    cumFixture
      .withColumn(
        "cum",
        sum("w").over(
          Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
  }

  test("globalCumSum matches the global-window prefix sum at 1, 3, and 8 partitions") {
    for (p <- Seq(1, 3, 8)) {
      val got = Relational
        .globalCumSum(cumFixture, Seq(col("id")), "w", "cum", parts = p)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(2))
        .toMap
      assert(got == cumExpect, s"parts=$p")
    }
  }

  test("globalCumSum survives coalesce(1): offsets ride in rows, not TaskContext") {
    val got = Relational
      .globalCumSum(cumFixture, Seq(col("id")), "w", "cum", parts = 4)
      .coalesce(1)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    assert(got == cumExpect)
  }

  test("globalCumSum plan: no single-partition stage, output spread over partitions") {
    // the range exchange runs inside the checkpoint job (lineage is
    // truncated past it — same as globalRank), so assert the observable
    // contract instead: no SinglePartition anywhere, and the output stays
    // spread across partitions rather than funneling into one
    val df = (0L until 5000L).map(i => (i, i % 13)).toDF("id", "w")
    val cum = Relational.globalCumSum(df, Seq(col("id")), "w", "cum", parts = 8)
    val p = planOf(cum)
    assert(!p.contains("SinglePartition"), "single-partition exchange in cumsum plan:\n" + p.take(1500))
    val perPart = cum.groupBy(spark_partition_id().as("pid")).count().collect()
    assert(perPart.length > 1, "cumsum output must not collapse to one partition")
  }

  // ---- bucketized range join ---------------------------------------------

  test("asOfJoinNearest picks the closer side; distance ties go to the earlier (backward) match") {
    val near = Relational
      .asOfJoinNearest(trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"))
      .select("event_id", "q_ts", "q_val")
      .collect()
      .map(r =>
        r.getLong(0) -> ((
          Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(near(100L) == (Some(10L), Some(2.0))) // equal ts: backward candidate at distance 0
    assert(near(101L) == (Some(15L), Some(3.0))) // only backward exists
    assert(near(102L) == (Some(8L), Some(1.0))) // only forward exists (ts=5 < first quote)
    assert(near(103L) == (Some(60L), Some(4.0))) // backward misses, forward at +10 matches
    assert(near(104L) == (None, None)) // key has no quotes at all
    // exact distance tie (quotes at 8 and 12, trade at 10): earlier wins
    val r = Seq((1L, 1L, 8L, 8L, 1.0), (2L, 1L, 12L, 12L, 2.0))
      .toDF("event_id", "user_id", "ts_us", "q_ts", "q_val")
    val l = Seq((50L, 1L, 10L)).toDF("event_id", "user_id", "ts_us")
    val tied = Relational
      .asOfJoinNearest(l, r, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"))
      .collect().head
    assert(tied.getAs[Long]("q_ts") == 8L && tied.getAs[Double]("q_val") == 1.0)
    // same plan contract as the directional variants: union + window, no join
    val p = planOf(
      Relational.asOfJoinNearest(
        trades, quotes, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val")))
    assert(!p.contains("Join"), "nearest as-of must be union+window, not a join:\n" + p.take(1500))
    assert(!p.contains("SinglePartition"))
  }

  test("asOfJoinNearest tolerance nulls each side independently before the comparison") {
    // backward at distance 7, forward at distance 2
    val r = Seq((1L, 1L, 3L, 3L, 1.0), (2L, 1L, 12L, 12L, 2.0))
      .toDF("event_id", "user_id", "ts_us", "q_ts", "q_val")
    val l = Seq((50L, 1L, 10L)).toDF("event_id", "user_id", "ts_us")
    def at(tol: Option[Long]) = Relational
      .asOfJoinNearest(l, r, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), tol)
      .collect().head
    assert(at(None).getAs[Long]("q_ts") == 12L) // closer forward wins untolerated
    assert(at(Some(3L)).getAs[Long]("q_ts") == 12L) // backward out of tolerance, forward in
    assert(Option(at(Some(1L)).get(3)).isEmpty) // both out: null
    // a stale-but-closer side must LOSE to the in-tolerance side, not null the row:
    // backward at distance 2 with tol 1 is out; forward at distance 5 is in
    val r2 = Seq((1L, 1L, 8L, 8L, 1.0), (2L, 1L, 15L, 15L, 2.0))
      .toDF("event_id", "user_id", "ts_us", "q_ts", "q_val")
    val out2 = Relational
      .asOfJoinNearest(l, r2, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), Some(5L))
      .collect().head
    assert(out2.getAs[Long]("q_ts") == 8L) // both in at tol 5: closer backward
    val out3 = Relational
      .asOfJoinNearest(l, r2, "user_id", "ts_us", "event_id", Seq("q_ts", "q_val"), Some(1L))
      .collect().head
    assert(Option(out3.get(3)).isEmpty && Option(out3.get(4)).isEmpty)
  }

  test("asOfJoinNearest property: the match is backward's or forward's, whichever is closer") {
    val evRaw = spark.read.parquet(s"$sf/events.parquet")
    val ev = evRaw.select(
      col("event_id"),
      col("user_id"),
      graft.io.EventTime.tsUs(evRaw).as("ts_us"),
      col("event_type"),
      col("value"))
    val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts_us")
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        col("ts_us").as("c_ts"), col("value").as("c_val"))
    def byId(df: DataFrame) = df
      .select("event_id", "ts_us", "c_ts")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap
    val b = byId(Relational.asOfJoin(purchases, clicks, "user_id", "ts_us", "event_id", Seq("c_ts", "c_val")))
    val f = byId(Relational.asOfJoinForward(purchases, clicks, "user_id", "ts_us", "event_id", Seq("c_ts", "c_val")))
    val n = byId(Relational.asOfJoinNearest(purchases, clicks, "user_id", "ts_us", "event_id", Seq("c_ts", "c_val")))
    assert(n.nonEmpty && n.keySet == b.keySet && n.keySet == f.keySet)
    n.foreach { case (id, (ts, nTs)) =>
      val bd = b(id)._2.map(t => ts - t)
      val fd = f(id)._2.map(t => t - ts)
      val expected = (bd, fd) match {
        case (Some(db), Some(df_)) => if (db <= df_) b(id)._2 else f(id)._2
        case (Some(_), None) => b(id)._2
        case (None, Some(_)) => f(id)._2
        case _ => None
      }
      assert(nTs == expected, s"event $id: nearest=$nTs backward=${b(id)._2} forward=${f(id)._2}")
    }
  }

  test("rangeJoinBucketed: inclusive start, exclusive end, cross-bucket containment") {
    val probe = Seq((0L, "at_start"), (99L, "inside"), (100L, "at_end"), (150L, "cross"), (250L, "outside"))
      .toDF("ts_us", "tag")
    // interval [0, 100) and [120, 220): the second spans a bucket boundary (bucket width 100)
    val ivals = Seq((10L, 0L), (20L, 120L)).toDF("ival_id", "start_us")
    val got = Relational
      .rangeJoinBucketed(probe, ivals, "ts_us", "start_us", 100L)
      .select("ival_id", "tag")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(got == Set((10L, "at_start"), (10L, "inside"), (20L, "cross")))
  }

  test("rangeJoinIntervals: variable lengths, cross-bucket matches, degenerate intervals empty") {
    val s = spark
    import s.implicits._
    // widths 100 and 10 → bucket width 100; the long interval crosses a
    // bucket boundary; the degenerate one (end <= start) matches nothing
    val ivals = Seq(
      (10L, 50L, 150L), // long: crosses the 100-bucket boundary
      (20L, 205L, 215L), // short, within one bucket
      (30L, 400L, 400L) // degenerate: empty half-open range
    ).toDF("ival_id", "start_us", "end_us")
    val probe = Seq(49L, 50L, 120L, 149L, 150L, 210L, 400L).toDF("ts_us")
    val got = Relational
      .rangeJoinIntervals(probe, ivals, "ts_us", "start_us", "end_us")
      .select("ival_id", "ts_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == Set((10L, 50L), (10L, 120L), (10L, 149L), (20L, 210L)))
  }

  test("rangeJoinIntervals stratified widths: a 1000x outlier interval loses no matches") {
    // 50 short intervals (length 10) plus one 1000x-length outlier: the
    // per-length-class widths mean the short intervals keep their fine
    // bucket grid (the outlier sits alone in its own stratum) and the
    // result is still exactly the naive containment join
    val iv = ((0 until 50).map(i => (i.toLong, i * 100L, i * 100L + 10L))
      :+ ((99L, 3L, 10003L)))
      .toDF("ival_id", "start_us", "end_us")
    val probe = (0 until 1000).map(i => i.toLong * 7L).toDF("ts_us")
    def rows(df: DataFrame) = df
      .select("ival_id", "ts_us").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows(Relational.rangeJoinIntervals(probe, iv, "ts_us", "start_us", "end_us"))
    val want = rows(
      probe.crossJoin(iv).filter(col("ts_us") >= col("start_us") && col("ts_us") < col("end_us")))
    assert(got == want && got.nonEmpty)
  }

  test("rangeJoinIntervals: power-of-two boundary lengths and large offsets stay exact") {
    // lengths exactly at (8) and just above (9) a power of two, plus an
    // interval far out at 2^40 — the integer bit-length stratum rule must
    // never under-size a width (an FP log2 could, at boundaries)
    val base = 1L << 40
    val iv = Seq(
      (1L, 96L, 104L), // len 8 = 2^3, crosses the 8-bucket edge at 104? spans [96,104) over buckets 12..12
      (2L, 100L, 109L), // len 9: stratum 4 (width 16)
      (3L, base, base + (1L << 20)) // huge offset, len 2^20
    ).toDF("ival_id", "start_us", "end_us")
    val probe = (Seq(95L, 96L, 100L, 103L, 104L, 108L, 109L) ++
      Seq(base - 1L, base, base + 12345L, base + (1L << 20) - 1L, base + (1L << 20)))
      .toDF("ts_us")
    def rows(df: DataFrame) = df
      .select("ival_id", "ts_us").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows(Relational.rangeJoinIntervals(probe, iv, "ts_us", "start_us", "end_us"))
    val want = rows(
      probe.crossJoin(iv).filter(col("ts_us") >= col("start_us") && col("ts_us") < col("end_us")))
    assert(got == want && got.nonEmpty)
  }

  test("rangeJoinIntervals plan: broadcast hash equi-join, probe never shuffles") {
    val evRaw = spark.read.parquet(s"$sf/events.parquet")
    val ev = evRaw.select(graft.io.EventTime.tsUs(evRaw).as("ts_us"), col("event_id"))
    val iv = ev.limit(5).select(
      col("event_id").as("ival_id"),
      col("ts_us").as("start_us"),
      (col("ts_us") + col("event_id") % 1000000L + 1L).as("end_us"))
    val p = planOf(Relational.rangeJoinIntervals(ev, iv, "ts_us", "start_us", "end_us"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("rangeJoinBucketed plan: broadcast hash equi-join, no nested loop") {
    val evRaw = spark.read.parquet(s"$sf/events.parquet")
    val ev = evRaw.select(graft.io.EventTime.tsUs(evRaw).as("ts_us"), col("event_id"))
    val iv = ev.limit(5).select(col("event_id").as("ival_id"), col("ts_us").as("start_us"))
    val p = planOf(Relational.rangeJoinBucketed(ev, iv, "ts_us", "start_us", 1800000000L))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), "range join must not nest-loop:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  // ---- salted join --------------------------------------------------------

  test("AQE splits a skewed sort-merge join at runtime (the residual skew guard)") {
    // SCALE.md leans on AQE for skew the explicit salting doesn't cover;
    // pin that the mechanism actually engages: one hot key, broadcast off,
    // thresholds lowered so the skew is visible at test size
    // conf-isolated clone: broadcast-off + skew thresholds must not leak
    // into concurrently-running suites' plans
    SparkSpec.withIsolatedConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") { s2 =>
      import s2.implicits._
      val left = (1L to 200000L)
        .map(i => (if (i % 100 == 0) "cold" + i % 7 else "hot", i))
        .toDF("k", "l_val")
      // a PLAIN shuffled table on the right: the skew rule pattern-matches
      // SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) exactly — an aggregate
      // between Sort and the stage would defeat it
      val right = Seq(("hot", 1L), ("cold1", 2L), ("cold2", 3L)).toDF("k", "r_val")
      val joined = left.join(right, "k")
      // execute THIS frame's plan (a .count() would finalize a different
      // QueryExecution and leave this one's AQE plan unfinalized)
      joined.queryExecution.toRdd.count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), "AQE should mark the hot partition skewed:\n" + p.take(1500))
    }
  }

  test("saltedJoin is row-identical to the plain join on a skewed fixture") {
    val probe = (1L to 2000L).map(i => (if (i % 10 == 0) "cold" else "hot", i))
      .toDF("k", "row_id")
    val build = Seq(("hot", 100L), ("cold", 200L)).toDF("k", "v")
    val salted = graft.ops.Skew.saltedJoin(probe, build, "k", "row_id", saltFactor = 4)
    val plain = probe.join(build, "k")
    assert(salted.count() == plain.count())
    assert(
      salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0,
      "salting must not change join semantics")
  }

  test("saltedJoin plan: exchange keys include the salt, no broadcast of the probe") {
    val probe = (1L to 2000L).map(i => ("hot", i)).toDF("k", "row_id")
    val build = Seq(("hot", 100L)).toDF("k", "v")
    val p = planOf(graft.ops.Skew.saltedJoin(probe, build, "k", "row_id", saltFactor = 4))
    assert(p.contains("__salt"), "join must key on (k, __salt):\n" + p.take(1500))
  }

  // ---- exact group quantiles ---------------------------------------------

  test("quantilesByGroup: nearest-rank quantiles by hand on a known distribution") {
    // group "a": values 1..10 once each -> p25=3, p50=5, p75=8, p90=9
    // (smallest v with cum*100 >= p*10)
    val df = (1 to 10).map(v => ("a", v.toLong)).toDF("g", "v")
    val r = Stats.quantilesByGroup(df, "g", "v").collect().head
    assert(r.getAs[Long]("n_rows") == 10L)
    assert(r.getAs[Long]("p25") == 3L)
    assert(r.getAs[Long]("p50") == 5L)
    assert(r.getAs[Long]("p75") == 8L)
    assert(r.getAs[Long]("p90") == 9L)
  }

  test("retention: hand-computed weekly cohort matrix") {
    val W = 604800L
    val ev = Seq(
      (1L, 0 * W + 10), (1L, 1 * W + 5), (1L, 3 * W + 1),
      (2L, 0 * W + 99), (2L, 2 * W + 7), (2L, 0 * W + 50),
      (3L, 1 * W + 3)
    ).toDF("user_id", "secs")
    val got = graft.ops.Funnel.retention(ev).collect()
      .map(r => (r.getAs[Long]("cohort"), r.getAs[Long]("k")) -> r.getAs[Long]("n_users"))
      .toMap
    assert(got == Map(
      (0L, 0L) -> 2L, // u1, u2 both start in week 0
      (0L, 1L) -> 1L, // u1 returns in week 1
      (0L, 2L) -> 1L, // u2 returns in week 2
      (0L, 3L) -> 1L, // u1 returns in week 3
      (1L, 0L) -> 1L // u3's cohort
    ))
  }

  test("heavyHitters (Misra-Gries udaf): no false negatives, bounded undercount, k-bounded state") {
    // skewed stream: hot=100, warm=30, 50 singletons -> N=180, k=8, so every
    // token with true count > 180/8 = 22.5 MUST appear, undercounted by at
    // most ~N/k; repartition(8) forces real partial-aggregate merges
    val rows = Seq.fill(100)("hot") ++ Seq.fill(30)("warm") ++ (1 to 50).map(i => s"u$i")
    val docs = rows.map(t => ("a", t)).toDF("source", "text").repartition(8)
    val out = Stats.heavyHitters(docs, k = 8).collect()
    assert(out.length == 1)
    val hitters = out(0)
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("hitters")
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("est"))
      .toMap
    assert(hitters.size <= 8, "summary must stay within k entries")
    assert(hitters.contains("hot") && hitters.contains("warm"), hitters.toString)
    assert(hitters("hot") <= 100 && 100 - hitters("hot") <= 23)
    assert(hitters("warm") <= 30 && 30 - hitters("warm") <= 23)
    // deterministic given a fixed partitioning; reported in (-count, token) order
    val again = Stats.heavyHitters(docs, k = 8).collect()(0)
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("hitters")
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("est"))
    assert(again == again.sortBy { case (t, c) => (-c, t) })
  }

  test("approxQuantilesByGroup agrees with the exact operator on real data") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Stats.quantilesByGroup(docs, "lang", "n_chars")
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = Stats.approxQuantilesByGroup(docs, "lang", "n_chars")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == approx.keySet)
    for (lang <- exact.keySet; p <- Seq("p25", "p50", "p75", "p90")) {
      val e = exact(lang).getAs[Long](p).toDouble
      val a = approx(lang).getAs[Long](p).toDouble
      // at accuracy=10000 on thousands of rows the sketch is near-exact;
      // allow a loose 10% band so the assertion is about sanity, not luck
      assert(math.abs(a - e) <= math.max(2.0, 0.10 * e), s"$lang $p: exact=$e approx=$a")
    }
  }

  test("quantilesByGroup: skewed multiplicities resolve to the dominating value") {
    // 99x value 7 and 1x value 1000: every quantile below p99 is 7
    val df = (Seq.fill(99)(7L) :+ 1000L).map(("b", _)).toDF("g", "v")
    val r = Stats.quantilesByGroup(df, "g", "v").collect().head
    assert(Seq("p25", "p50", "p75", "p90").forall(r.getAs[Long](_) == 7L))
  }

  // ---- sequence packing ---------------------------------------------------

  test("packGreedy: docs cut into ctx-sized chunks by running token offset, shard-local") {
    // 4 docs of 3 tokens each, ctx=5, shard=1000 (all one shard):
    // offsets 0,3,6,9 -> chunks 0,0,1,1
    val docs = Seq(
      (0L, "a b c"), (1L, "d e f"), (2L, "g h i"), (3L, "j k l")
    ).toDF("doc_id", "text")
    val out = Corpus.packGreedy(docs, ctxTokens = 5, shardSize = 1000)
      .collect().map(r => (r.getLong(1), r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toSet
    assert(out == Set((0L, 2L, 6L), (1L, 2L, 6L)))
  }

  test("packGreedy: shard boundary restarts the offset") {
    // shardSize=2: docs 0,1 in shard 0; docs 2,3 in shard 1 — each shard
    // starts its own chunk 0 even though the global offset would not.
    val docs = Seq(
      (0L, "a b c"), (1L, "d e f"), (2L, "g h i"), (3L, "j k l")
    ).toDF("doc_id", "text")
    val out = Corpus.packGreedy(docs, ctxTokens = 5, shardSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_docs"))).toSet
    // each shard restarts at offset 0: both its docs (offsets 0 and 3) start in chunk 0
    assert(out == Set((0L, 0L, 2L), (1L, 0L, 2L)))
  }

  test("topk_per_group plan: rank-filter compiles to map-side WindowGroupLimit") {
    val p = planOf(graft.queries.RelQueries.queries("topk_per_group")(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  // ---- vocabulary ---------------------------------------------------------

  test("vocabulary: df counts docs not occurrences; min_df filters") {
    val docs = Seq(
      (1L, "spark spark rows"), (2L, "spark rows"), (3L, "only")
    ).toDF("doc_id", "text")
    val v = graft.ops.TextAnalysis.vocabulary(docs, minDf = 2)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("df"), r.getAs[Long]("tf"))).toMap
    assert(v == Map("spark" -> (2L, 3L), "rows" -> (2L, 2L)))
  }

  test("distinctCounts: HLL sketch tracks the exact cardinality within rsd bounds") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val rows = Stats.distinctCounts(ev, "event_type", "user_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Long]("n_exact").toDouble
      val a = r.getAs[Long]("n_approx").toDouble
      assert(math.abs(a - e) <= math.max(2.0, 0.10 * e), s"${r.getString(0)}: exact=$e approx=$a")
    }
  }

  test("kmvDistinct: exact below k, ~1/sqrt(k) accurate at k, and merge == whole") {
    val s = spark
    import s.implicits._
    // 500 distinct users spread over two groups: 'big' sees all 500 (sketch
    // full at k=64 -> estimator), 'small' sees 20 (exact path)
    val ev = (0L until 500L)
      .flatMap(u => Seq(("big", u)) ++ (if (u < 20) Seq(("small", u)) else Nil))
      .toDF("event_type", "user_id")
      .withColumn("event_id", col("user_id") * 7 + length(col("event_type")))
    val got = Stats.kmvDistinct(ev, "event_type", "user_id", k = 64).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_kept"), r.getAs[Long]("est_distinct"))))
      .toMap
    assert(got("small") == ((20L, 20L))) // below k: exact, not estimated
    assert(got("big")._1 == 64L)
    // deterministic sketch value for md5('0'..'499'), k=64: 674 (an unlucky
    // ~2.7-sigma draw vs truth 500 -- the sf0.01 registry fixture lands at
    // 144 vs 150; pinning the exact value regression-tests the arithmetic)
    assert(got("big")._2 == 674L, s"estimate ${got("big")._2}")
    // mergeability law: per-shard sketches union+re-trim to the whole's sketch
    val whole = Stats.kmvSketch(ev, "event_type", "user_id", k = 64)
    val merged = Stats.kmvMerge(
      Seq(
        Stats.kmvSketch(ev.filter(col("event_id") % 2 === 0), "event_type", "user_id", k = 64),
        Stats.kmvSketch(ev.filter(col("event_id") % 2 === 1), "event_type", "user_id", k = 64)),
      k = 64)
    assert(merged.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      whole.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    // the rank-<=-k filter must plan as WindowGroupLimit (per-map-task
    // group limit before the shuffle -- the bounded-memory property)
    val p = whole.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("cms: estimates bound true counts from above, merge is linear, state is depth-bounded") {
    val s = spark
    import s.implicits._
    // known multiplicities: a x5, b x3, c x1, plus 40 singletons as noise
    val a = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val b = (0 until 40).map(i => s"n$i")
    val all = (a ++ b).toDF("v")
    val cms = Stats.cmsBuild(all, "v", depth = 4)
    assert(cms.count() <= 4 * 256)
    val truth = (a ++ b).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val est = Stats.cmsQuery(cms, all, "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == truth.keySet)
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"$k: est ${est(k)} < true $n (CMS never undercounts)")
    }
    // 43 distinct values in 256 buckets x 4 rows: an all-row collision is
    // ~1e-3-rare and this md5 draw has none — the planted keys are exact
    assert(est("a") == 5L && est("b") == 3L && est("c") == 1L)
    // linearity: per-shard sketches summed == one-pass sketch
    val merged = Stats.cmsMerge(Seq(
      Stats.cmsBuild(a.toDF("v"), "v", depth = 4),
      Stats.cmsBuild(b.toDF("v"), "v", depth = 4)))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells(merged) == cells(cms))
    // a value the sketch never saw (collision-free in this draw) estimates 0
    val unseen = Stats.cmsQuery(cms, Seq("zzz-unseen").toDF("v"), "v")
      .collect().head.getLong(1)
    assert(unseen == 0L)
    // depth is pinned at merge: a depth-2 shard cannot dilute a depth-4
    // rollup (min-over-rows would undercount — CMS's one forbidden error)
    val err = intercept[IllegalArgumentException] {
      Stats.cmsMerge(Seq(cms, Stats.cmsBuild(a.toDF("v"), "v", depth = 2)))
    }
    assert(err.getMessage.contains("different depths"))
    // empty shards merge freely (they add nothing) and probe as all-zero
    val emptyDf = Seq.empty[String].toDF("v")
    assert(cells(Stats.cmsMerge(Seq(cms, Stats.cmsBuild(emptyDf, "v", depth = 4)))) == cells(cms))
    assert(Stats.cmsQuery(Stats.cmsBuild(emptyDf, "v"), Seq("a").toDF("v"), "v")
      .collect().head.getLong(1) == 0L)
  }

  test("kmvOverlap: exact below k, identical/disjoint extremes, one-sided groups") {
    val s = spark
    import s.implicits._
    def sk(grp: String, ids: Range) =
      Stats.kmvSketch(ids.map(u => (grp, u.toLong)).toDF("g", "user_id"), "g", "user_id", k = 64)
    // exact path: |A∪B| = 30 < k, A∩B = 10..19 -> everything exact
    val ex = Stats.kmvOverlap(sk("g", 0 until 20), sk("g", 10 until 30), "g", k = 64)
      .collect().head
    assert(ex.getAs[Long]("n_kept") == 30L)
    assert(ex.getAs[Long]("n_both") == 10L)
    assert(ex.getAs[Long]("est_union") == 30L)
    assert(ex.getAs[Long]("est_intersect") == 10L)
    assert(ex.getAs[Long]("jaccard_milli") == 333L)
    // identical saturated sets: every survivor is on both sides
    val id = Stats.kmvOverlap(sk("g", 0 until 200), sk("g", 0 until 200), "g", k = 64)
      .collect().head
    assert(id.getAs[Long]("n_kept") == 64L)
    assert(id.getAs[Long]("n_both") == 64L)
    assert(id.getAs[Long]("jaccard_milli") == 1000L)
    assert(id.getAs[Long]("est_intersect") == id.getAs[Long]("est_union"))
    // disjoint saturated sets: no survivor carries both flags
    val dj = Stats.kmvOverlap(sk("g", 0 until 100), sk("g", 1000 until 1100), "g", k = 64)
      .collect().head
    assert(dj.getAs[Long]("n_both") == 0L && dj.getAs[Long]("jaccard_milli") == 0L)
    // a group present on one side only degrades to that side's estimate
    val os = Stats.kmvOverlap(sk("only_a", 0 until 25), sk("other", 0 until 5), "g", k = 64)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(os("only_a").getAs[Long]("n_both") == 0L)
    assert(os("only_a").getAs[Long]("est_union") == 25L)
    // estimator path sanity on a real 50% overlap: est_intersect within
    // ~4/sqrt(k) of truth (1000 ∪ 1500, ∩ 500 — one fixed md5 draw)
    val ov = Stats.kmvOverlap(sk("g", 0 until 1000), sk("g", 500 until 1500), "g", k = 64)
      .collect().head
    val estI = ov.getAs[Long]("est_intersect").toDouble
    assert(math.abs(estI - 500.0) <= 250.0, s"est_intersect $estI vs 500")
    // sketches are self-describing: comparing/merging/estimating with a
    // DIFFERENT k than they were built with fails fast instead of
    // reporting a saturated small-k sketch as "exact" under the bigger k
    val small = Stats.kmvSketch((0 until 500).map(u => ("g", u.toLong)).toDF("g", "user_id"),
      "g", "user_id", k = 32)
    val err = intercept[IllegalArgumentException] {
      Stats.kmvOverlap(small, sk("g", 0 until 20), "g", k = 64)
    }
    assert(err.getMessage.contains("k in [32"))
    val err2 = intercept[IllegalArgumentException] { Stats.kmvEstimate(small, "g", k = 64) }
    assert(err2.getMessage.contains("caller passed k=64"))
  }

  test("kmvSketch/kmvEstimate refuse k > 128 (the estimator constant's Long ceiling)") {
    val s = spark
    import s.implicits._
    val df = Seq(("g", 1L)).toDF("event_type", "user_id")
    val err = intercept[IllegalArgumentException] {
      Stats.kmvDistinct(df, "event_type", "user_id", k = 129)
    }
    assert(err.getMessage.contains("[2, 128]"))
    // k = 128 itself is legal and its scale constant stays positive
    assert(Stats.kmvDistinct(df, "event_type", "user_id", k = 128)
      .collect().head.getAs[Long]("est_distinct") == 1L)
  }

  // ---- contamination ------------------------------------------------------

  test("contaminationNgrams: planted overlap is found, clean docs score zero") {
    // Find real train/test ids under the default split so the planted text
    // determines the result, not the hash assignment.
    val ids = spark.range(0, 2000).toDF("doc_id")
    val sp = Corpus.splitAssign(ids).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val trainId = sp.collectFirst { case (id, "train") => id }.get
    val testHit = sp.collectFirst { case (id, "test") => id }.get
    val testClean = sp.collect { case (id, "test") => id }.find(_ != testHit).get
    val docs = Seq(
      (trainId, "alpha beta gamma delta epsilon zeta"),
      (testHit, "alpha beta gamma delta epsilon eta"), // shares 2 of its 2 5-grams? no: 1 of 2
      (testClean, "one two three four five six")
    ).toDF("doc_id", "text")
    val out = Corpus.contaminationNgrams(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_grams"), r.getAs[Long]("n_contaminated")))
      .toMap
    // testHit: 5-grams = {alpha..epsilon, beta..eta}; first is in train
    assert(out(testHit) == (2L, 1L))
    assert(out(testClean) == (2L, 0L))
    assert(!out.contains(trainId), "train docs are not audited")
  }

  test("Funnel.stages: strict ordering, first-completion semantics, monotone counts") {
    // u1 completes all three in order; u2 clicks BEFORE viewing (click must
    // not count); u3 views only; u4 view->click but purchase precedes click
    val ev = Seq(
      (1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      (2L, 500L, "click"), (2L, 600L, "view"),
      (3L, 700L, "view"),
      (4L, 10L, "view"), (4L, 30L, "click"), (4L, 20L, "purchase")
    ).toDF("user_id", "ts_us", "event_type")
    val got = graft.ops.Funnel.stages(ev, Seq("view", "click", "purchase")).collect()
      .map(r => r.getInt(0) -> r.getAs[Long]("n_users")).toMap
    assert(got == Map(1 -> 4, 2 -> 2, 3 -> 1)) // views: all 4; clicks after view: u1,u4; purchase after that click: u1
  }

  test("Anomaly.countAnomalies: integer 3-sigma flag matches a hand-computed spike, steady series stays quiet") {
    // key "a": 4-period baseline of 10s then a spike of 100 and a normal 10
    val rows = ((1 to 4).map(i => ("a", i.toLong, 10L)) ++
      Seq(("a", 5L, 100L), ("a", 6L, 10L))).toDF("k", "t", "n")
    val got = graft.ops.Anomaly
      .countAnomalies(rows, "k", "t", "n", trailing = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("anomaly"))
      .toMap
    // t=5: baseline 10,10,10,10 -> S=40,Q=400,m=4; (4*100-40)^2=129600 > 9*(1600-1600)=0 -> flag
    // t=6: baseline 10,10,10,100 -> S=130,Q=10300,m=4; (40-130)^2=8100 > 9*(41200-16900)=218700? no
    assert(got == Map(5L -> 1L, 6L -> 0L))
    // rows without a full trailing baseline are not emitted
    assert(!got.contains(4L))
  }

  test("Stats.modeByGroup: deterministic argmax — highest count, then smallest value") {
    val rows = Seq(
      ("g1", "b"), ("g1", "b"), ("g1", "a"), ("g1", "c"),
      // g2: a and b tie at 2 -> smallest value "a" wins
      ("g2", "b"), ("g2", "a"), ("g2", "b"), ("g2", "a"),
      ("g3", null.asInstanceOf[String]), ("g3", "z")).toDF("g", "v")
    val got = graft.ops.Stats
      .modeByGroup(rows, "g", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got("g1") === ((4L, 3L, "b", 2L, 500000L)))
    assert(got("g2") === ((4L, 2L, "a", 2L, 500000L)))
    assert(got("g3") === ((1L, 1L, "z", 1L, 1000000L))) // nulls dropped
  }

  test("Stats.hllSketch/hllEstimate: estimate within rsd band, merge law exact, rho edge") {
    val s = spark
    import s.implicits._
    val rows = (1 to 4000).map(i => ("g", s"user_${i % 1500}")).toDF("grp", "v")
    val est = graft.ops.Stats.hllEstimate(graft.ops.Stats.hllSketch(rows, "grp", "v"), "g").head()
    val raw = est.getAs[Double]("est_raw")
    // 1500 distinct at m=256: standard error ~1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert(math.abs(raw - 1500.0) / 1500.0 < 0.20, s"est_raw $raw vs 1500")
    assert(est.getAs[Long]("n_zero") >= 0L && est.getAs[Long]("sum_scaled") > 0L)
    // merge law: pointwise-max of shard registers == whole-input registers
    val whole = graft.ops.Stats.hllSketch(rows, "grp", "v")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val merged = graft.ops.Stats.hllMerge(Seq(
      graft.ops.Stats.hllSketch(rows.filter(length(col("v")) % 2 === 0), "grp", "v"),
      graft.ops.Stats.hllSketch(rows.filter(length(col("v")) % 2 === 1), "grp", "v")))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(merged === whole)
    // rho: every register rank is in [1, 33]
    val rhos = graft.ops.Stats.hllSketch(rows, "grp", "v").select("rho_max").collect().map(_.getLong(0))
    assert(rhos.forall(r => r >= 1L && r <= 33L))
  }

  test("Stats.hllEstimate: the est column applies the small-range rule on BOTH sides of 640") {
    val s = spark
    import s.implicits._
    def estRow(nDistinct: Int) = graft.ops.Stats
      .hllEstimate(
        graft.ops.Stats.hllSketch(
          (1 to nDistinct).map(i => ("g", s"user_$i")).toDF("grp", "v"), "grp", "v"),
        "g")
      .head()
    // 30 distinct: est_raw far below 640 with zeros left -> linear counting
    val lo = estRow(30)
    assert(lo.getAs[Double]("est_raw") <= 640.0 && lo.getAs[Long]("n_zero") > 0L)
    assert(lo.getAs[Double]("est") === lo.getAs[Double]("est_small"))
    // 5000 distinct: est_raw above 640 -> raw HLL estimate selected
    val hi = estRow(5000)
    assert(hi.getAs[Double]("est_raw") > 640.0)
    assert(hi.getAs[Double]("est") === hi.getAs[Double]("est_raw"))
    // and in both regimes est equals the documented rule re-applied by hand
    Seq(lo, hi).foreach { r =>
      val want =
        if (r.getAs[Double]("est_raw") <= 640.0 && r.getAs[Long]("n_zero") > 0L)
          r.getAs[Double]("est_small")
        else r.getAs[Double]("est_raw")
      assert(r.getAs[Double]("est") === want)
    }
  }

  test("Anomaly.ewmaSmooth: hand-computed trunc-division fold, s0 = x0, keys independent") {
    val rows = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 12.0),
      ("b", 1L, 5.0)).toDF("k", "ts", "v")
    val got = graft.ops.Anomaly.ewmaSmooth(rows, "k", "ts", "v", alphaMilli = 300L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // s1 = 10000; s2 = (300*20000 + 700*10000) div 1000 = 13000;
    // s3 = (300*12000 + 700*13000) div 1000 = 12700
    assert(got(("a", 1L)) === ((10000L, 10000L)))
    assert(got(("a", 2L)) === ((20000L, 13000L)))
    assert(got(("a", 3L)) === ((12000L, 12700L)))
    assert(got(("b", 1L)) === ((5000L, 5000L)), "a fresh key seeds from its own first value")
  }

  test("Checks.profile: null shares, exact distincts, missing-column fail-fast") {
    val rows = Seq(
      (1L, Option("a")), (2L, Option.empty[String]), (3L, Option("a")), (4L, Option("b")))
      .toDF("id", "tag")
    val got = graft.ops.Checks.profile(rows, Seq("id", "tag")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got("id") === ((4L, 0L, 0L, 4L)))
    assert(got("tag") === ((4L, 1L, 250000L, 2L)), "nulls excluded from the distinct count")
    val err = intercept[IllegalArgumentException](graft.ops.Checks.profile(rows, Seq("nope")))
    assert(err.getMessage.contains("not in schema"))
  }

  test("Checks.profileApprox: estimate tracks exact, all-null and empty inputs report zeros") {
    val s = spark
    import s.implicits._
    val rows = (1 to 3000)
      .map(i => (i.toLong, s"tag_${i % 700}", Option.empty[String]))
      .toDF("id", "tag", "dead")
    val got = graft.ops.Checks.profileApprox(rows, Seq("id", "tag", "dead")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got("id")._1 === 3000L && got("id")._2 === 0L)
    assert(math.abs(got("id")._4 - 3000.0) / 3000.0 < 0.20, s"id est ${got("id")._4}")
    assert(math.abs(got("tag")._4 - 700.0) / 700.0 < 0.20, s"tag est ${got("tag")._4}")
    assert(got("dead") === ((3000L, 3000L, 1000000L, 0.0)), "all-null column")
    // empty input still reports a row per requested column
    val empty = graft.ops.Checks.profileApprox(rows.limit(0), Seq("id", "tag")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
    assert(empty === Map("id" -> ((0L, 0.0)), "tag" -> ((0L, 0.0))))
    val err =
      intercept[IllegalArgumentException](graft.ops.Checks.profileApprox(rows, Seq("nope")))
    assert(err.getMessage.contains("not in schema"))
  }

  test("Relational.scd2Apply: close+chain, no-op collapse, new key, pass-through, late fix") {
    val s = spark
    import s.implicits._
    def hist(rows: Seq[(Long, String, Option[Long], Option[Long])]) =
      rows.toDF("k", "attr", "valid_from_us", "valid_to_us")
    def ch(rows: Seq[(Long, String, Long)]) = rows.toDF("k", "attr", "ts_us")
    val h = hist(Seq(
      (1L, "a", Some(0L), None),          // gets two real changes + one no-op
      (2L, "x", Some(0L), None),          // untouched open row
      (3L, "old", Some(0L), Some(50L)),   // closed history: pass-through
      (3L, "cur", Some(50L), None),       // open row with a late correction
      (4L, "z", Some(100L), None)))       // no-op only
    val c = ch(Seq(
      (1L, "b", 10L), (1L, "b", 20L), (1L, "c", 30L), // change, no-op, chain
      (3L, "late", 40L),                              // ts < open valid_from: sorts first
      (4L, "z", 200L),                                // no-op: must collapse
      (9L, "new", 15L)))                              // brand-new key
    val got = graft.ops.Relational.scd2Apply(h, c, "k", Seq("attr"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
      .toSet
    assert(got === Set(
      (1L, "a", 0L, Some(10L), false),
      (1L, "b", 10L, Some(30L), false),   // the ts-20 no-op collapsed into it
      (1L, "c", 30L, None, true),
      (2L, "x", 0L, None, true),
      (3L, "old", 0L, Some(50L), false),  // closed history untouched
      (3L, "late", 40L, Some(50L), false), // late correction heads the span
      (3L, "cur", 50L, None, true),
      (4L, "z", 100L, None, true),        // pure no-op: single open version
      (9L, "new", 15L, None, true)), got.toString)
    // a change at EXACTLY the open version's timestamp replaces its head:
    // the zero-width [t, t) version is dropped, not emitted
    val sameTs = graft.ops.Relational
      .scd2Apply(
        hist(Seq((7L, "orig", Some(100L), None))),
        ch(Seq((7L, "fix", 100L))),
        "k",
        Seq("attr"))
      .collect()
      .map(r => (r.getString(1), r.getLong(2), Option(r.get(3)), r.getBoolean(4)))
      .toSet
    assert(sameTs === Set(("fix", 100L, None, true)), sameTs.toString)
    // null change timestamps refuse in-plan rather than becoming the
    // earliest version
    val nullTs = Seq((8L, "x", Option.empty[Long])).toDF("k", "attr", "ts_us")
    val err = intercept[Exception](
      graft.ops.Relational
        .scd2Apply(hist(Seq((8L, "a", Some(0L), None))), nullTs, "k", Seq("attr"))
        .collect())
    assert(err.getMessage.contains("null change timestamp"), err.getMessage)
    // and the same guard on an OPEN history row's valid_from_us: a null
    // would sort engine-dependently (Spark nulls-first, DuckDB nulls-last)
    val nullOpen = intercept[Exception](
      graft.ops.Relational
        .scd2Apply(
          hist(Seq((8L, "a", None, None))),
          ch(Seq((8L, "b", 10L))),
          "k",
          Seq("attr"))
        .collect())
    assert(nullOpen.getMessage.contains("open history row"), nullOpen.getMessage)
  }

  test("Relational.mergeIntervals: overlap/adjacency merge, gap tolerance, zero-width dropped") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      ("a", 1L, 5L), ("a", 3L, 7L),   // overlap -> one island [1,7)
      ("a", 7L, 9L),                  // touching (half-open): continuity at gap=0
      ("a", 20L, 30L), ("a", 22L, 25L), // contained interval extends nothing
      ("a", 40L, 40L),                // zero-width: covers nothing, dropped
      ("b", 1L, 2L))                  // keys independent
      .toDF("k", "s", "e")
    def run(gap: Long) = graft.ops.Relational.mergeIntervals(iv, "k", "s", "e", gap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    assert(run(0L) === Set(
      ("a", 1L, 9L, 3L, 8L, 10L), // summed units double-count the [3,7) overlap
      ("a", 20L, 30L, 2L, 10L, 13L), // contained interval double-counts summed units only
      ("b", 1L, 2L, 1L, 1L, 1L)), run(0L).toString)
    // gap tolerance 11 bridges [9 -> 20); island_units exceeds the sum
    assert(run(11L) === Set(
      ("a", 1L, 30L, 5L, 29L, 23L),
      ("b", 1L, 2L, 1L, 1L, 1L)), run(11L).toString)
  }

  test("Relational.scd2AsOf: boundary hits, gap nulls, atomic version structs, bucketed carry") {
    val s = spark
    import s.implicits._
    val dim = Seq(
      // key 1: contiguous chain a[0,100) b[100,200) c[200,inf)
      (1L, Some("a"), 0L, Some(100L)),
      (1L, Some("b"), 100L, Some(200L)),
      (1L, Some("c"), 200L, Option.empty[Long]),
      // key 2: coverage only starts at 100
      (2L, Some("x"), 100L, Option.empty[Long]),
      // key 3: coverage gap [100, 500)
      (3L, Some("g1"), 0L, Some(100L)),
      (3L, Some("g2"), 500L, Option.empty[Long]),
      // key 4: the CURRENT version's attr is genuinely null — a
      // per-column carry would wrongly inherit v1's value here
      (4L, Some("old"), 0L, Some(100L)),
      (4L, Option.empty[String], 100L, Option.empty[Long]))
      .toDF("k", "attr", "valid_from_us", "valid_to_us")
    val facts = Seq(
      (10L, 1L, 50L),   // mid v1 -> a
      (11L, 1L, 100L),  // ts == valid_from -> the NEW version b
      (12L, 1L, 199L),  // last covered instant of b
      (13L, 1L, 200L),  // ts == valid_to of b -> the next version c
      (14L, 1L, 5000L), // far future -> open version c, carried across ~50 buckets
      (20L, 2L, 50L),   // before the key's first version -> null
      (30L, 3L, 300L),  // inside the coverage gap -> null, never a stale carry
      (40L, 4L, 150L),  // current version's attr is null -> null, not "old"
      (50L, 9L, 100L))  // key absent from the dimension -> null
      .toDF("fid", "k", "ts")
    val got = graft.ops.Relational
      .scd2AsOf(facts, dim, "k", "ts", Seq("attr"), bucketUnits = 100L)
      .collect()
      .map(r => r.getLong(0) -> Option(r.getString(3)))
      .toMap
    assert(got === Map(
      10L -> Some("a"), 11L -> Some("b"), 12L -> Some("b"), 13L -> Some("c"),
      14L -> Some("c"), 20L -> None, 30L -> None, 40L -> None, 50L -> None), got.toString)
    // dimension versions with null valid_from_us refuse in-plan
    val badDim = Seq((1L, Some("z"), Option.empty[Long], Option.empty[Long]))
      .toDF("k", "attr", "valid_from_us", "valid_to_us")
    val err = intercept[Exception](
      graft.ops.Relational.scd2AsOf(facts, badDim, "k", "ts", Seq("attr")).collect())
    assert(err.getMessage.contains("null valid_from_us"), err.getMessage)
    // NULL never equi-matches (the window-vs-join null trap): a null-key
    // fact reads null attributes even when a null-key version exists
    val nullDim = Seq(
      (Option(1L), "a", 0L, Option.empty[Long]),
      (Option.empty[Long], "ghost", 0L, Option.empty[Long]))
      .toDF("k", "attr", "valid_from_us", "valid_to_us")
    val nullFacts = Seq((60L, Option(1L), 10L), (61L, Option.empty[Long], 10L))
      .toDF("fid", "k", "ts")
    val nk = graft.ops.Relational.scd2AsOf(nullFacts, nullDim, "k", "ts", Seq("attr"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(nk(60L) === Some("a"))
    assert(nk(61L) === None, "a null-key fact must never attach the null-key version")
  }

  test("Stats.chiSquareDrift: hand-computed terms; identical cohorts score zero") {
    val s = spark
    import s.implicits._
    // a: 6 "x", 2 "y"; b: 2 "x", 6 "y" -> na=nb=8, n=16
    val a = (Seq.fill(6)("x") ++ Seq.fill(2)("y")).toDF("v")
    val b = (Seq.fill(2)("x") ++ Seq.fill(6)("y")).toDF("v")
    val got = graft.ops.Stats.chiSquareDrift(a, b, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // D = 6*8 - 8*2 = 32 for "x"; term = 1e6*1024 div (8*8*8) = 2000000
    assert(got("x") === ((6L, 2L, 2000000L)))
    assert(got("y") === ((2L, 6L, 2000000L)))
    // textbook check: chi2 = sum/1e6 = 4.0 for this table
    assert(got.values.map(_._3).sum === 4000000L)
    val same = graft.ops.Stats.chiSquareDrift(a, a, "v")
      .collect().map(_.getLong(3))
    assert(same.forall(_ === 0L), "identical cohorts must score zero")
  }

  test("Stats.giniByGroup: equality scores 0, extreme concentration (n-1)/n, zeros/negatives") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("even", 5.0), ("even", 5.0), ("even", 5.0), ("even", 5.0),
      ("conc", 0.0), ("conc", 0.0), ("conc", 0.0), ("conc", 8.0),
      ("neg", -1.0), ("neg", 2.0), ("neg", 2.0),
      ("zero", 0.0), ("zero", 0.0)).toDF("g", "v")
    val got = graft.ops.Stats.giniByGroup(rows, "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(got("even") === ((4L, 20000L, Some(0L))), "perfect equality -> 0")
    // all mass on one of 4 rows: G = (n-1)/n = 0.75
    assert(got("conc") === ((4L, 8000L, Some(750000L))))
    // the negative row is excluded: 2 equal values -> 0
    assert(got("neg") === ((2L, 4000L, Some(0L))))
    assert(got("zero")._3 === None, "an all-zero group has no defined coefficient")
  }

  test("Stats.hhiByGroup: single owner 1e6, even split 1e6/k, top share") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("mono", 1L), ("mono", 1L), ("mono", 1L),
      ("duo", 1L), ("duo", 2L),
      ("skew", 1L), ("skew", 1L), ("skew", 1L), ("skew", 2L)).toDF("g", "u")
    val got = graft.ops.Stats.hhiByGroup(rows, "g", "u")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("mono") === ((1L, 3L, 1000000L, 1000000L)))
    assert(got("duo") === ((2L, 2L, 500000L, 500000L)))
    // shares 3/4 and 1/4: HHI = 9/16 + 1/16 = 0.625
    assert(got("skew") === ((2L, 4L, 625000L, 750000L)))
  }

  test("Funnel.attribution: last/first touch in window, organic nulls, same-instant tie collapse") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 10L, "ad"), (1L, 20L, "email"), (1L, 25L, "purchase"), // last email, first ad
      (1L, 100L, "purchase"),                                     // window empty: organic
      (2L, 50L, "ad"), (2L, 50L, "push"), (2L, 50L, "purchase"),  // tie collapses to max type
      (3L, 7L, "purchase"))                                       // never touched
      .toDF("user_id", "ts_us", "event_type")
    val got = graft.ops.Funnel
      .attribution(ev, Seq("ad", "email", "push"), "purchase", windowUs = 15L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((
        Option(r.getString(2)), Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.getString(4)), Option(r.get(5)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(got((1L, 25L)) === ((Some("email"), Some(20L), Some("ad"), Some(10L))), got.toString)
    assert(got((1L, 100L)) === ((None, None, None, None)), "organic reads null, not stale carry")
    assert(got((2L, 50L)) === ((Some("push"), Some(50L), Some("push"), Some(50L))),
      "same-instant touches collapse deterministically and count (inclusive window)")
    assert(got((3L, 7L)) === ((None, None, None, None)))
  }

  test("Funnel.attributionCredit: linear-decay shares sum to ~1e6, window cut, tie collapse, organic absent") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 10L, "ad"), (1L, 20L, "email"), (1L, 22L, "push"), (1L, 25L, "purchase"),
      (1L, 2L, "email"),                                        // outside the 15-unit window
      (2L, 50L, "ad"), (2L, 50L, "push"), (2L, 50L, "purchase"), // tie collapses to one touch
      (3L, 7L, "purchase"))                                      // organic: no rows at all
      .toDF("user_id", "ts_us", "event_type")
    val got = graft.ops.Funnel
      .attributionCredit(ev, Seq("ad", "email", "push"), "purchase", windowUs = 15L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getString(3), r.getLong(4), r.getLong(5))))
      .toMap
    // m = 3 in conversion (1, 25): shares 3:2:1 of 6 -> 500000 / 333333 / 166666
    assert(got((1L, 25L, 22L)) === (("push", 1L, 500000L)), got.toString)
    assert(got((1L, 25L, 20L)) === (("email", 2L, 333333L)))
    assert(got((1L, 25L, 10L)) === (("ad", 3L, 166666L)))
    assert(!got.contains((1L, 25L, 2L)), "outside the window: no credit")
    // same-instant touches collapse first: ONE full-credit row (m = 1)
    assert(got((2L, 50L, 50L)) === (("push", 1L, 1000000L)))
    assert(!got.exists(_._1._1 == 3L), "an untouched conversion emits nothing here")
  }

  test("Stats.welchTTest: hand t/df, zero-variance null, one-sided group null") {
    val s = spark
    import s.implicits._
    val a = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("z", 5.0), ("z", 5.0), ("only_a", 1.0))
      .toDF("grp", "v")
    val b = Seq(("g", 2.0), ("g", 4.0), ("z", 5.0), ("z", 5.0)).toDF("grp", "v")
    val got = graft.ops.Stats.welchTTest(a, b, "grp", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(5)).map(_.asInstanceOf[Double]),
        Option(r.get(6)).map(_.asInstanceOf[Double]))))
      .toMap
    // g: means 2000 vs 3000 milli; va = 1e6, vb = 2e6;
    // se2 = 1e6/3 + 2e6/2; t = -1000/sqrt(se2) = -0.866025; Welch df = 1.68
    assert(got("g") === ((3L, 2L, Some(-0.866025), Some(1.68))), got.toString)
    // identical constants on both sides: se2 = 0 -> not testable, null
    assert(got("z") === ((2L, 2L, None, None)))
    // a group missing from one cohort: n_b = 0, never a fabricated t
    assert(got("only_a") === ((1L, 0L, None, None)))
  }

  test("maxConcurrency: sweep-line peak, abutting intervals never overlap, bucketed identical") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      ("g", 0L, 10L), ("g", 5L, 15L), ("g", 10L, 20L), ("g", 12L, 13L),
      ("h", 5L, 6L),
      ("z", 9L, 9L)) // empty interval: dropped, key vanishes
      .toDF("k", "s", "e")
    val got = graft.ops.Relational.maxConcurrency(iv, "k", "s", "e")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // [0,10) ends exactly when [10,20) starts: the -1 sorts first, so
    // the peak is 3 (at t=12 when the sliver opens), never 4
    assert(got("g") === ((4L, 3L, 12L)), got.toString)
    assert(got("h") === ((1L, 1L, 5L)))
    assert(!got.contains("z"))
    val buck = graft.ops.Relational
      .maxConcurrencyBucketed(iv, "k", "s", "e", bucketUs = 7L).collect().toSet
    assert(buck === graft.ops.Relational.maxConcurrency(iv, "k", "s", "e").collect().toSet)
  }

  test("Funnel.coOccurrence: hand lift vs independence, distinct baskets, hub cap") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, "A"), (1L, "B"), (1L, "A"), // duplicate touch: distinct basket
      (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"),
      (4L, "A"),
      (5L, "B"))
      .toDF("user_id", "item")
    val got = graft.ops.Funnel.coOccurrence(ev, "user_id", "item")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // N=5, n_A=4, n_B=3, n_C=1: (A,B) lift 1000*2*5/(4*3) = 833 (below
    // independence), (A,C) 1000*1*5/4 = 1250 (above)
    assert(got(("A", "B")) === ((2L, 4L, 3L, 833L)), got.toString)
    assert(got(("A", "C")) === ((1L, 4L, 1L, 1250L)))
    assert(!got.contains(("B", "C")), "never co-touched")
    // cap 2: a 3-item user is excluded from pairs AND totals
    val hub = ev.unionAll(Seq((6L, "A"), (6L, "B"), (6L, "C")).toDF("user_id", "item"))
    val capped = graft.ops.Funnel.coOccurrence(hub, "user_id", "item", maxUserItems = 2L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capped(("A", "B")) === 2L, "the hub user's pairs are suppressed")
  }

  test("Stats.poissonBootstrap: deterministic, exact point estimate, constant values pin the CI") {
    val s = spark
    import s.implicits._
    val df = (1L to 60L).map(i => ("g", i, (i % 3 + 1).toDouble)) // values 1,2,3 repeating
      .toDF("grp", "id", "v")
    val a = graft.ops.Stats.poissonBootstrap(df, "grp", "v", "id", reps = 40).collect()
    val b = graft.ops.Stats.poissonBootstrap(df, "grp", "v", "id", reps = 40).collect()
    assert(a.toSeq === b.toSeq, "two runs must agree byte for byte")
    val r = a.head
    assert(r.getLong(1) === 60L)
    assert(r.getLong(2) === 2000L, "exact unweighted mean")
    assert(r.getLong(3) === 40L, "no replicate degenerates on 60 rows")
    val (lo, hi) = (r.getLong(4), r.getLong(5))
    assert(lo <= hi && lo >= 1000L && hi <= 3000L, s"CI must sit inside the value range, got ($lo, $hi)")
    assert(lo <= 2000L && hi >= 2000L, "95% interval should straddle the true mean here")
    // constant metric: every replicate mean is exactly the constant
    val const = (1L to 30L).map(i => ("c", i, 5.0)).toDF("grp", "id", "v")
    val c = graft.ops.Stats.poissonBootstrap(const, "grp", "v", "id", reps = 20).collect().head
    assert((c.getLong(2), c.getLong(4), c.getLong(5)) === ((5000L, 5000L, 5000L)))
  }

  test("Stats.cramersV2: perfect association reads 1e6, independence 0, single-level null") {
    val s = spark
    import s.implicits._
    // perfect 2x2: chi^2 = n = 4 (the two EMPTY cells owe their expected
    // mass), V^2 = 1
    val perfect = Seq(("x", "1"), ("x", "1"), ("y", "2"), ("y", "2")).toDF("a", "b")
    val p = graft.ops.Stats.cramersV2(perfect, "a", "b").head()
    assert((p.getLong(0), p.getLong(3), p.getLong(4)) === ((4L, 4000L, 1000000L)), p.toString)
    // uniform independence: every cell exactly at expectation
    val ind = Seq(("x", "1"), ("x", "2"), ("y", "1"), ("y", "2")).toDF("a", "b")
    val i = graft.ops.Stats.cramersV2(ind, "a", "b").head()
    assert((i.getLong(3), i.getLong(4)) === ((0L, 0L)))
    // a single-level column: association unmeasurable, null not 0
    val one = Seq(("x", "1"), ("y", "1")).toDF("a", "b")
    val o = graft.ops.Stats.cramersV2(one, "a", "b").head()
    assert(o.isNullAt(4) && o.getLong(3) === 0L)
  }

  test("Anomaly.seasonalOutliers: spike flagged through the cycle, edges unscored, cycle itself quiet") {
    val s = spark
    import s.implicits._
    // 4 days of a clean 24-period cycle + deterministic jitter, with one
    // planted 100x spike at p=50; a raw trailing-sigma monitor would
    // fire on every daily peak — the deseasonalized MAD must fire ONLY
    // around the spike
    val series = (0L until 96L).map { p =>
      val base = 10.0 + (p % 24).toDouble + (p % 7).toDouble
      ("g", p, if (p == 50L) 1000.0 else base)
    }.toDF("k", "p", "v")
    val got = graft.ops.Anomaly.seasonalOutliers(series, "k", "p", "v", seasonLen = 24)
      .collect()
      .map(r => r.getLong(1) -> r.getLong(5))
      .toMap
    // centered 25-point MA: only p in [12, 83] carries a trend
    assert(got.keySet === (12L to 83L).toSet, "edge periods are unscored, not silent normals")
    assert(got(50L) === 1L, "the planted spike must flag")
    // the daily cycle itself must NOT light up the board: the spike
    // contaminates its own MA window (+-12), so allow that neighborhood
    val quiet = got.filterNot { case (p, _) => p >= 38L && p <= 62L }
    assert(quiet.values.sum <= quiet.size / 4,
      s"cycle should be mostly quiet outside the spike's MA window, got ${quiet.values.sum}/${quiet.size}")
  }

  test("Stats.qqShift: hand deciles, uniform +10 shift, one-sided group drops") {
    val s = spark
    import s.implicits._
    val a = (1L to 10L).map(v => ("g", v)) :+ (("only_a", 1L))
    val b = (11L to 20L).map(v => ("g", v))
    val got = graft.ops.Stats
      .qqShift(a.toDF("grp", "v"), b.toDF("grp", "v"), "grp", "v")
      .collect()
      .map(r => (r.getString(0), r.getLong(3)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // nearest-rank deciles of 1..10: p10=1, p25=3, p50=5, p75=8, p90=9;
    // the b cohort is the same shape shifted +10 everywhere
    assert(got(("g", 10L)) === ((10L, 10L, 1L, 11L, 10L)), got.toString)
    assert(got(("g", 25L)) === ((10L, 10L, 3L, 13L, 10L)))
    assert(got(("g", 50L)) === ((10L, 10L, 5L, 15L, 10L)))
    assert(got(("g", 75L)) === ((10L, 10L, 8L, 18L, 10L)))
    assert(got(("g", 90L)) === ((10L, 10L, 9L, 19L, 10L)))
    assert(!got.keySet.map(_._1).contains("only_a"), "a shift needs both ends")
  }

  test("Stats.twoProportionTest: hand z^2, significance cut, degenerate nulls") {
    val s = spark
    import s.implicits._
    val a = (1 to 10).map(i => ("g", i <= 3)) ++ (1 to 5).map(_ => ("h", true)) ++
      Seq(("z", true), ("only_a", true))
    val b = (1 to 10).map(i => ("g", i <= 7)) ++ (1 to 5).map(_ => ("h", false)) ++
      Seq(("z", true))
    val got = graft.ops.Stats
      .twoProportionTest(a.toDF("grp", "ok"), b.toDF("grp", "ok"), "grp", "ok")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.get(7)).map(_.asInstanceOf[Long]),
        Option(r.get(8)).map(_.asInstanceOf[Boolean]))))
      .toMap
    // 3/10 vs 7/10: z^2 = 1600*20/10000 = 3.2 — a 40-point swing on 10v10
    // is NOT significant at 5%
    assert(got("g") === ((10L, 10L, Some(300000L), Some(3200L), Some(false))), got.toString)
    // 5/5 vs 0/5: z^2 = 10 — significant
    assert(got("h") === ((5L, 5L, Some(1000000L), Some(10000L), Some(true))))
    // pooled all-success: zero pooled variance, not testable
    assert(got("z")._4 === None)
    // a group missing from one cohort: never a fabricated verdict
    assert(got("only_a")._4 === None)
  }

  test("Stats.cupedAdjust: perfectly-correlated covariate equalizes variants, zero-variance null") {
    val s = spark
    import s.implicits._
    // y = 2x exactly: theta = 2, rho2 = 1, and the adjustment moves both
    // variants' means to the SAME point — the covariate explains the
    // entire between-variant gap
    val df = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 4.0),
      ("b", 3.0, 6.0), ("b", 4.0, 8.0))
      .toDF("variant", "pre", "post")
    val got = graft.ops.Stats.cupedAdjust(df, "variant", "pre", "post")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got("a") === ((2L, 3000L, Some(5000.0), Some(2.0), Some(1.0))), got.toString)
    assert(got("b") === ((2L, 7000L, Some(5000.0), Some(2.0), Some(1.0))))
    // constant covariate: theta undefined, raw means still ship
    val flat = Seq(("a", 5.0, 2.0), ("b", 5.0, 8.0)).toDF("variant", "pre", "post")
    val f = graft.ops.Stats.cupedAdjust(flat, "variant", "pre", "post")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), Option(r.get(4))))).toMap
    assert(f("a") === ((2000L, None)))
    assert(f("b") === ((8000L, None)))
  }

  test("Checks.classificationReport: hand P/R/F1, truth-only and pred-only labels, null drop") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", "a"), ("a", "a"), ("a", "b"), // a: 3 truth, 2 tp
      ("b", "a"),                         // b: 1 truth, 0 tp; a gets an fp
      ("c", "c"),                         // c: perfect singleton
      ("d", "a"),                         // d: truth-only label
      (null.asInstanceOf[String], "a"), ("a", null.asInstanceOf[String])) // dropped
      .toDF("truth", "pred")
    val got = graft.ops.Checks.classificationReport(df, "truth", "pred")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.get(6)).map(_.asInstanceOf[Long]))))
      .toMap
    // a: truth 3, pred 4 (2 tp + b's and d's misfires), P 500000, R 666666,
    // F1 = 4e6 // 7 = 571428
    assert(got("a") === ((3L, 4L, 2L, Some(500000L), Some(666666L), Some(571428L))), got.toString)
    assert(got("b") === ((1L, 1L, 0L, Some(0L), Some(0L), Some(0L))))
    assert(got("c") === ((1L, 1L, 1L, Some(1000000L), Some(1000000L), Some(1000000L))))
    // truth-only label: precision undefined (never predicted), not 0
    assert(got("d") === ((1L, 0L, 0L, None, Some(0L), Some(0L))))
    assert(got.size === 4, "null truth/pred rows are excluded")
  }

  test("Stats.theilSenSlope: hand medians, outlier resistance, doubled odd/even, single-point null") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("lin", 0L, 1.0), ("lin", 1L, 3.0), ("lin", 2L, 5.0),
      ("out", 0L, 0.0), ("out", 1L, 1.0), ("out", 2L, 2.0), ("out", 3L, 300.0),
      ("two", 0L, 1.0), ("two", 1L, 4.0),
      ("one", 0L, 7.0))
      .toDF("grp", "t", "v")
    val got = graft.ops.Stats.theilSenSlope(df, "grp", "t", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap
    // perfectly linear slope 2/period: every pair slope 2e6, med2 = 4e6
    assert(got("lin") === ((3L, 3L, Some(4000000L))), got.toString)
    // slopes sorted [1e6 x3, 1e8, 1.495e8, 2.98e8]: even count averages
    // ranks 3 and 4 -> med2 = 1e6 + 1e8 (the spike barely registers;
    // least squares would be dragged two orders up)
    assert(got("out") === ((4L, 6L, Some(101000000L))))
    // a single pair: the one middle counts twice
    assert(got("two") === ((2L, 1L, Some(6000000L))))
    // one period: nothing to slope, honest null
    assert(got("one") === ((1L, 0L, None)))
  }

  test("Stats.calibrationBins: hand conf/acc/gap, clamping, top-edge bin, empty bins absent") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0.05, false), (0.05, true), (-0.2, false), // bin 0 (clamped negative)
      (0.25, true),                               // bin 2
      (0.95, true), (1.0, true))                  // bin 9 (1.0 clamps into the top bin)
      .toDF("score", "label")
    val got = graft.ops.Stats.calibrationBins(df, "score", "label", nBins = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    // bin 0: scores {50, 50, 0}, 1 positive -> conf 33, acc 333, gap 300
    assert(got(0L) === ((0L, 100L, 3L, 1L, 33L, 333L, 300L)), got.toString)
    assert(got(2L) === ((200L, 300L, 1L, 1L, 250L, 1000L, 750L)))
    // bin 9: {950, 1000} both positive -> conf 975, acc 1000, gap 25
    assert(got(9L) === ((900L, 1000L, 2L, 2L, 975L, 1000L, 25L)))
    assert(got.size === 3, "empty bins produce no rows")
  }

  test("timeWeightedAvg: hand step weighting, weightless last, endTs horizon, tie order") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("g", 0L, 9.0), ("g", 100L, 100.0), ("g", 101L, 9.0), ("g", 201L, 1.0),
      ("one", 5L, 7.0),
      ("tie", 0L, 1.0), ("tie", 0L, 2.0), ("tie", 10L, 3.0))
      .toDF("k", "t", "v")
    def asMap(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        Option(r.get(5)).map(_.asInstanceOf[Long])))).toMap
    val got = asMap(graft.ops.Relational.timeWeightedAvg(df, "k", "t", "v"))
    // spike of 100 for 1us out of 201us held barely moves the 9-level:
    // (9000*100 + 100000*1 + 9000*100) div 201 = 9452
    assert(got("g") === ((4L, 0L, 201L, 201L, Some(9452L))), got.toString)
    // a single sample holds for no known interval -> null, never a guess
    assert(got("one") === ((1L, 5L, 5L, 0L, None)))
    // same-ts ties order by value: only the last of the tie spans forward
    assert(got("tie") === ((3L, 0L, 10L, 10L, Some(2000L))))
    // endTs horizon: the last sample holds to the horizon
    val h = asMap(graft.ops.Relational.timeWeightedAvg(df, "k", "t", "v", endTs = Some(301L)))
    assert(h("g") === ((4L, 0L, 201L, 301L, Some(2000000L / 301L))))
    assert(h("one") === ((1L, 5L, 5L, 296L, Some(7000L))))
    // bucketed face: byte-identical at a bucket width that splits the
    // series and leaves empty buckets between samples
    val plain = graft.ops.Relational.timeWeightedAvg(df, "k", "t", "v").collect().toSet
    val buck = graft.ops.Relational
      .timeWeightedAvgBucketed(df, "k", "t", "v", bucketUs = 7L).collect().toSet
    assert(buck === plain)
    val buckH = graft.ops.Relational
      .timeWeightedAvgBucketed(df, "k", "t", "v", bucketUs = 7L, endTs = Some(301L))
      .collect().toSet
    assert(buckH === graft.ops.Relational
      .timeWeightedAvg(df, "k", "t", "v", endTs = Some(301L)).collect().toSet)
  }

  test("Stats.mannKendall: hand S/var18/z2, constant-series null, duplicate periods sum") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("up", 1L, 1.0), ("up", 2L, 2.0), ("up", 3L, 3.0), ("up", 4L, 4.0), ("up", 5L, 5.0),
      ("down", 1L, 5.0), ("down", 2L, 4.0), ("down", 3L, 3.0), ("down", 4L, 2.0), ("down", 5L, 1.0),
      ("flat", 1L, 7.0), ("flat", 2L, 7.0), ("flat", 3L, 7.0), ("flat", 4L, 7.0), ("flat", 5L, 7.0),
      ("dup", 1L, 1.0), ("dup", 1L, 1.0), ("dup", 2L, 3.0),
      ("wob", 1L, 1.0), ("wob", 2L, 2.0), ("wob", 3L, 1.0))
      .toDF("grp", "t", "v")
    val got = graft.ops.Stats.mannKendall(df, "grp", "t", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getString(5),
        Option(r.get(6)).map(_.asInstanceOf[Boolean]))))
      .toMap
    // strictly increasing 5-pointer: S = 10, var18 = 5*4*15 = 300,
    // z2 = 18000*81/300 = 4860 > 3841 -> significant
    assert(got("up") === ((5L, 10L, 300L, Some(4860L), "up", Some(true))), got.toString)
    assert(got("down") === ((5L, -10L, 300L, Some(4860L), "down", Some(true))))
    // constant series: var18 = 300 - 300 = 0 -> not testable, never false
    assert(got("flat") === ((5L, 0L, 0L, None, "flat", None)))
    // duplicate rows in period 1 sum to 2000 milli: S = 1, continuity
    // correction zeroes z2 at |S| = 1
    assert(got("dup") === ((2L, 1L, 18L, Some(0L), "up", Some(false))))
    // 1,2,1: +1 and -1 cancel -> S = 0, tie block {1,1} corrects var18
    assert(got("wob") === ((3L, 0L, 48L, Some(0L), "flat", Some(false))))
  }

  test("Stats.mannWhitneyU: hand U with ties, all-tied null, one-sided group null") {
    val s = spark
    import s.implicits._
    val a = Seq(("g", 0.001), ("g", 0.002), ("g", 0.003), ("z", 5.0), ("z", 5.0), ("only_a", 1.0))
      .toDF("grp", "v")
    val b = Seq(("g", 0.002), ("g", 0.004), ("z", 5.0), ("z", 5.0)).toDF("grp", "v")
    val got = graft.ops.Stats.mannWhitneyU(a, b, "grp", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]))))
      .toMap
    // g pooled milli {1,2,2,3,4}: midranks 1, 2.5, 2.5, 4, 5 ->
    // R_A = 7.5, U_A = 1.5 -> u2_a = 3; ties = 2^3-2 = 6;
    // Var = 3*2*((5^3-5) - 6) / (12*5*4) = 684/240 = 2.85;
    // z = (3 - 6) / (2*sqrt(2.85))
    val zg = BigDecimal(-3.0 / (2 * math.sqrt(684.0 / 240.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("g") === ((3L, 2L, 3L, Some(zg))), got.toString)
    // every observation tied: tie correction kills the variance -> null
    assert(got("z")._4 === None)
    // a group missing from one cohort: n_b = 0, u2 = 0, never a fake z
    assert(got("only_a") === ((1L, 0L, 0L, None)))
  }

  test("Stats.autocorrMilli: periodic series reads ±1 at its lags; constant series reads null") {
    val s = spark
    import s.implicits._
    val rows = (0L to 5L).map(p => ("a", p, if (p % 2 == 0) 10.0 else 20.0)) ++
      (0L to 5L).map(p => ("c", p, 7.0))
    val got = graft.ops.Stats.autocorrMilli(rows.toDF("g", "p", "v"), "g", "p", "v", maxLag = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    // period-2 alternation: perfect anti-correlation at odd lags, perfect
    // correlation at even ones; n shrinks by one pair per lag
    assert(got(("a", 1L)) === ((5L, Some(-1.0))), got.toString)
    assert(got(("a", 2L)) === ((4L, Some(1.0))))
    assert(got(("a", 3L)) === ((3L, Some(-1.0))))
    // zero variance: no correlation is defined, null not NaN
    (1L to 3L).foreach(k => assert(got(("c", k))._2 === None, s"lag $k"))
  }

  test("Anomaly.seasonalDecompose: hand-computed trend/seasonal/residual, honest null edges") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("k", 0L, 10.0), ("k", 1L, 20.0), ("k", 2L, 10.0), ("k", 3L, 20.0), ("k", 4L, 10.0))
      .toDF("g", "p", "v")
    val got = graft.ops.Anomaly.seasonalDecompose(rows, "g", "p", "v", seasonLen = 2)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]))))
      .toMap
    // trend = 3-row centered MA: p1 (10+20+10)/3 = 13333, p2 16666, p3 13333
    // seasonal phase1 = mean(20000-13333 twice) = 6667; phase0 = -6666
    assert(got(1L) === ((20000L, Some(13333L), Some(6667L), Some(0L))))
    assert(got(2L) === ((10000L, Some(16666L), Some(-6666L), Some(0L))))
    assert(got(3L) === ((20000L, Some(13333L), Some(6667L), Some(0L))))
    // edges: incomplete window -> null trend and residual, never zero-padded
    assert(got(0L)._2 === None && got(0L)._4 === None)
    assert(got(4L)._2 === None && got(4L)._4 === None)
    // ODD season length uses the SYMMETRIC L-point frame (-half..+half),
    // never the forward-biased -half..+(L-half): for L=3 over the same
    // series the trend is the 3-row centered mean, not a 4-row lookahead
    val odd = graft.ops.Anomaly.seasonalDecompose(rows, "g", "p", "v", seasonLen = 3)
      .collect()
      .map(r => r.getLong(1) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    assert(odd(1L) === Some(13333L), s"odd-L trend must be the symmetric 3-row MA, got $odd")
    assert(odd(2L) === Some(16666L))
    assert(odd(3L) === Some(13333L))
    assert(odd(0L) === None && odd(4L) === None, "edges stay honestly null at odd L")
  }

  test("Anomaly.seasonalAuto: a planted 24-period cycle is auto-detected; flat series falls back") {
    val s = spark
    import s.implicits._
    // two keys, 96 periods, a clean period-24 sawtooth (phase * 10 + a
    // key-specific offset) — the ACF peaks hard at lag 24
    val rows = (for {
      k <- Seq("a", "b")
      p <- 0L until 96L
    } yield (k, p, ((p % 24) * 10 + (if (k == "a") 0 else 3)).toDouble)).toDF("g", "p", "v")
    val got = graft.ops.Anomaly.seasonalAuto(rows, "g", "p", "v", maxLag = 36, fallbackSeasonLen = 7)
    assert(got.select("season_len").distinct().head().getLong(0) === 24L,
      "the planted 24-period cycle must be auto-detected")
    // ...and the decomposition IS seasonalDecompose at the detected length
    val want = graft.ops.Anomaly.seasonalDecompose(rows, "g", "p", "v", seasonLen = 24)
    assert(got.drop("season_len").collect().toSet === want.collect().toSet)
    // a flat (zero-variance) series has no defined ACF anywhere: the
    // explicit fallback decides, never a noise-picked period
    val flat = (0L until 40L).map(p => ("a", p, 5.0)).toDF("g", "p", "v")
    val fb = graft.ops.Anomaly.seasonalAuto(flat, "g", "p", "v", maxLag = 10, fallbackSeasonLen = 5)
    assert(fb.select("season_len").distinct().head().getLong(0) === 5L)
  }

  test("Funnel.conversionLags: per-edge lags under greedy sequential semantics") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 1L, "view"), (1L, 5L, "click"), (1L, 12L, "purchase"),
      (2L, 3L, "view"), (2L, 2L, "click"), (2L, 9L, "click"),
      (3L, 4L, "click")) // never viewed: not in the funnel at all
      .toDF("user_id", "ts_us", "event_type")
    val got = graft.ops.Funnel.conversionLags(ev, Seq("view", "click", "purchase"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (2, "view>click", 1L, 4L),
      (2, "view>click", 2L, 6L), // the ts-2 click precedes the view: skipped
      (3, "click>purchase", 1L, 7L)), got.toString)
  }

  test("Dedup.blockingPairs: offset canopies catch boundary crossers; hot blocks capped; nulls never block") {
    val s = spark
    import s.implicits._
    // grid cell = v div 10; the +5 offset grid catches the (9999, 10001)
    // pair that straddles the first grid's boundary at 10000
    val recs = Seq(
      (1L, Some(9999L)), (2L, Some(10001L)), // cross-boundary near-pair
      (3L, Some(55L)), (4L, Some(56L)),      // same cell both grids
      (5L, Option.empty[Long]),              // null key: never blocks
      (6L, Some(700L)), (7L, Some(790L)))    // same first-grid cell? 70 vs 79 -> no; offset 70 vs 79 -> no
      .toDF("id", "v")
    def pairs(maxBlock: Long) = graft.ops.Dedup.blockingPairs(
      recs,
      "id",
      Seq(expr("v div 10"), expr("(v + 5) div 10")),
      maxBlock)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(1000L)
    assert(got.contains((1L, 2L)), s"offset canopy must catch the boundary crosser: $got")
    assert(got.contains((3L, 4L)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L), "null keys never block")
    assert(!got.contains((6L, 7L)))
    // a hot block above the cap is excluded entirely
    val hot = (10L to 20L).map(i => (i, Some(42L))).toDF("id", "v")
    val capped = graft.ops.Dedup.blockingPairs(
      hot, "id", Seq(expr("v div 10"), expr("(v + 5) div 10")), maxBlock = 10L)
      .collect()
    assert(capped.isEmpty, "an 11-record block above maxBlock=10 must be excluded")
  }

  test("Dedup.resolveEntities: cross-boundary merge, verify gates, no-match singletons, transitivity") {
    val s = spark
    import s.implicits._
    val recs = Seq(
      (1L, 1L, 9999L),  // crosses the first grid's boundary vs 2: offset grid blocks them
      (2L, 1L, 10001L), // |diff| = 2 -> verify passes -> one entity with 1
      (3L, 1L, 55L), (4L, 1L, 56L), (9L, 1L, 57L), // chain 3~4~9: one entity (|55-57|=2 also direct)
      (5L, 2L, 55L),    // same cents as 3 but different nat: blocked apart -> singleton
      (6L, 1L, 300L),   // no neighbor at all -> singleton
      (7L, 1L, 9996L))  // blocked with 1 (same cell) but |9999-9996| = 3 -> verify rejects -> singleton
      .toDF("id", "nat", "cents")
    val got = graft.ops.Dedup.resolveEntities(
      recs,
      "id",
      Seq(
        struct(col("nat"), expr("cents div 10").as("g")),
        struct(col("nat"), expr("(cents + 5) div 10").as("g"))),
      (a, b) =>
        a.getField("nat") === b.getField("nat") &&
          abs(a.getField("cents") - b.getField("cents")) <= 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 9L), "total map over the input ids")
    assert(got(1L) === 1L && got(2L) === 1L, s"boundary crosser must merge under the min id: $got")
    assert(got(3L) === 3L && got(4L) === 3L && got(9L) === 3L, s"chained trio is one entity: $got")
    assert(got(5L) === 5L, "different blocking key -> own entity")
    assert(got(6L) === 6L, "no candidate at all -> own entity")
    assert(got(7L) === 7L, "blocked but verify-rejected -> own entity")
    // materialize=false (the 100 TB plain-scan path): identical output
    val unmaterialized = graft.ops.Dedup.resolveEntities(
      recs,
      "id",
      Seq(
        struct(col("nat"), expr("cents div 10").as("g")),
        struct(col("nat"), expr("(cents + 5) div 10").as("g"))),
      (a, b) =>
        a.getField("nat") === b.getField("nat") &&
          abs(a.getField("cents") - b.getField("cents")) <= 2L,
      materialize = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unmaterialized === got, "the materialize knob must not change the resolution")
  }

  test("Dedup.blockingDropReport: over-cap blocks and their records counted per blocker; nothing dropped reads zero") {
    val s = spark
    import s.implicits._
    // blocker 0 (v div 10): cell 4 holds 11 records (over maxBlock=10,
    // dropped), cell 1 holds 2 (kept); blocker 1 (constant key): one
    // 13-record block, dropped
    val recs = ((10L to 20L).map(i => (i, Some(42L))) ++ Seq((1L, Some(11L)), (2L, Some(12L))))
      .toDF("id", "v")
    val got = graft.ops.Dedup.blockingDropReport(
      recs, Seq(expr("v div 10"), lit(0L)), maxBlock = 10L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L) === ((1L, 11L)), s"one over-cap cell with 11 records: $got")
    assert(got(1L) === ((1L, 13L)), "the constant blocker drops everything as one block")
    // a generous cap drops nothing: zeros, not missing rows
    val none = graft.ops.Dedup.blockingDropReport(
      recs, Seq(expr("v div 10")), maxBlock = 1000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(none(0L) === ((0L, 0L)))
    // ...and the report's cap semantics match blockingPairs' exclusion:
    // the dropped 11-record block generates no pairs
    assert(graft.ops.Dedup.blockingPairs(
      recs, "id", Seq(expr("v div 10")), maxBlock = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("Stats.corrMatrixMilli: hand correlations, per-pair null masks, zero-variance null") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1.0, 2.0, Some(5.0), 7.0),
      (2.0, 4.0, Some(4.0), 7.0),
      (3.0, 6.0, Some(3.0), 7.0),
      (4.0, 8.0, Option.empty[Double], 7.0)) // d null: excluded from d-pairs only
      .toDF("a", "b", "d", "const")
    val got = graft.ops.Stats.corrMatrixMilli(rows, Seq("a", "b", "d", "const"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got(("a", "b")) === ((4L, Some(1.0))), "perfect positive")
    assert(got(("a", "d")) === ((3L, Some(-1.0))), "perfect negative over the 3 non-null rows")
    assert(got(("a", "const"))._2 === None, "zero variance has no defined correlation")
    assert(got(("b", "d"))._1 === 3L)
    val err = intercept[IllegalArgumentException](
      graft.ops.Stats.corrMatrixMilli(rows, Seq("a")))
    assert(err.getMessage.contains("at least two"))
  }

  test("Stats corr kernel: long hi/lo path ≡ decimal path on random data with nulls") {
    val s = spark
    import s.implicits._
    // the scale-adaptive moment kernel must be invisible: force each
    // arithmetic via knownBounds (tight true bound -> long kernel;
    // Long.MaxValue fails the overflow proof -> decimal kernel) and
    // require byte-identical output on data with nulls, negatives, ties,
    // and magnitudes spanning the milli scale
    for (seed <- Seq(1, 17)) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(300)((
        rnd.nextInt(2000000) - 1000000.0,
        if (rnd.nextInt(10) == 0) Option.empty[Double] else Some(rnd.nextDouble() * 9999),
        (rnd.nextInt(7) - 3).toDouble,
        if (rnd.nextInt(8) == 0) Option.empty[Double] else Some(-rnd.nextInt(500) * 1.5)))
        .toDF("a", "b", "c", "d")
      def run(bounds: Option[(Long, Long)]) = graft.ops.Stats
        .corrMatrixMilliImpl(rows, Seq("a", "b", "c", "d"), bounds)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .sortBy(t => (t._1, t._2))
      val viaLong = run(Some((300L, 2000000000L)))
      val viaDecimal = run(Some((300L, Long.MaxValue)))
      val inferred = run(None) // the pre-pass must prove the long path here
      assert(viaLong.toSeq == viaDecimal.toSeq, s"seed $seed: kernels disagree")
      assert(inferred.toSeq == viaDecimal.toSeq, s"seed $seed: pre-pass path disagrees")
    }
  }

  test("Stats.spearmanMatrixMilli: monotone reads 1, outlier-proof, tie midranks, listwise drop") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1.0, 1.0, 8.0, Some(5.0), 7.0),
      (2.0, 10.0, 6.0, Some(5.0), 7.0),
      (3.0, 100.0, 4.0, Some(7.0), 7.0),
      (4.0, 1000.0, -1.0, Some(8.0), 7.0),
      (5.0, 9999.0, -2.0, Option.empty[Double], 7.0)) // null ANYWHERE drops the row listwise
      .toDF("a", "expo", "neg", "tied", "const")
    val got = graft.ops.Stats
      .spearmanMatrixMilli(rows, Seq("a", "expo", "neg", "tied", "const"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    // exponential growth is perfectly monotone: rho = 1 where Pearson < 1
    assert(got(("a", "expo")) === ((4L, Some(1.0))), got.toString)
    // the -1000-style outlier can't bend a rank: still exactly -1
    assert(got(("a", "neg"))._2 === Some(-1.0))
    // tie block {5, 5} midranks: Pearson((2,4,6,8),(3,3,6,8)) = 18/sqrt(360)
    assert(got(("a", "tied"))._2 === Some(0.948683))
    assert(got(("a", "const"))._2 === None, "constant column: no defined rho")
    assert(got.values.forall(_._1 === 4L), "listwise deletion: every pair sees 4 rows")
  }

  test("Stats.spearmanMatrixMilli: window cumsum ≡ globalCumSum ranks on tied random data") {
    val s = spark
    import s.implicits._
    // few distinct values per column, so every column has large tie
    // blocks; a null drops rows listwise before ranking on both branches
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(400)((
        rnd.nextInt(7).toDouble,
        rnd.nextInt(3) * 0.5 - 1.0,
        if (rnd.nextInt(50) == 0) Option.empty[Double] else Some(rnd.nextInt(12).toDouble),
        rnd.nextGaussian())).toDF("a", "b", "c", "d")
      val cols = Seq("a", "b", "c", "d")
      def run(windowMaxRows: Long) = graft.ops.Stats.spearmanMatrixMilli(rows, cols, windowMaxRows)
        .collect().map(_.toSeq).sortBy(_.take(2).mkString("|")).toSeq
      val window = run(graft.ops.Stats.spearmanWindowMaxRows)
      val distributed = run(0L)
      assert(window.size === 6, window.mkString(","))
      assert(window === distributed, s"seed $seed: window and globalCumSum ranks disagree")
      assert(window === graft.ops.Stats.spearmanMatrixMilli(rows, cols).collect().map(_.toSeq)
        .sortBy(_.take(2).mkString("|")).toSeq, "the public face keeps the window default")
    }
  }

  test("Stats.benfordAudit: digit extraction across magnitudes, ppm shares, sup deviation") {
    // digits: 0.012 -> 1, -2.5 -> 2, 30.0 -> 3, 4567.0 -> 4, 0.0 excluded
    val rows = Seq(
      ("g", 0.012), ("g", -2.5), ("g", 30.0), ("g", 4567.0), ("g", 0.0)).toDF("k", "v")
    val got = graft.ops.Stats.benfordAudit(rows, "k", "v")
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(7))))
      .toMap
    assert(got.keySet === (1L to 9L).toSet, "all nine digits reported, absent ones zero-filled")
    assert(got(1L) === ((4L, 1L, 250000L, got(1L)._4)))
    assert(got(4L)._2 === 1L && got(9L)._2 === 0L && got(9L)._3 === 0L)
    // sup deviation: digit 5..9 rows deviate by exactly their expectation;
    // digit 1 by |250000 - 301030| = 51030; digit 4 by 250000-96910=153090
    assert(got.values.map(_._4).toSet.size === 1, "dev_max repeats per group")
    assert(got(1L)._4 === 153090L, got(1L)._4.toString)
  }

  test("Stats.ksDrift: hand-computed sup distance, zero on identical, one-sided groups dropped") {
    val a = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("only_a", 1.0)).toDF("k", "v")
    val b = Seq(("g", 2.0), ("g", 3.0), ("g", 4.0)).toDF("k", "v")
    val got = graft.ops.Stats.ksDrift(a, b, "k", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // CDFs step at {1,2,3,4}: A = 1/3,2/3,1,1; B = 0,1/3,2/3,1 -> sup 1/3
    assert(got === Map("g" -> ((3L, 3L, 333333L))), got.toString)
    // identical distributions score zero
    val z = graft.ops.Stats.ksDrift(b, b, "k", "v").head()
    assert(z.getLong(3) === 0L)
    // disjoint supports score the maximum
    val lo = Seq(("g", 1.0), ("g", 2.0)).toDF("k", "v")
    val hi = Seq(("g", 9.0), ("g", 10.0)).toDF("k", "v")
    assert(graft.ops.Stats.ksDrift(lo, hi, "k", "v").head().getLong(3) === 1000000L)
  }

  test("Stats.modeFromCounts: ppm survives counts past the long*1e6 wrap point") {
    // 1e13 rows of one value: cnt * 1000000 = 1e19 wraps a long
    // (max ~9.22e18); the decimal(38,0) widening keeps it exact
    val counts = Seq(
      ("g1", "hot", 10000000000000L), ("g1", "cold", 2000000000000L)).toDF("grp", "v", "cnt")
    val r = graft.ops.Stats.modeFromCounts(counts, "g").head()
    assert(r.getString(0) === "g1")
    assert(r.getLong(1) === 12000000000000L)
    assert(r.getString(3) === "hot")
    assert(r.getLong(4) === 10000000000000L)
    // 1e13 * 1e6 / 1.2e13 = 833333 (trunc); long math would give garbage
    assert(r.getLong(5) === 833333L)
  }

  test("Stats.cmsJoinEstimate: exact on a collision-free draw, one-sided on random data, depth pinned") {
    val s = spark
    import s.implicits._
    // tiny distinct sets: md5-bucket collisions across 6 values in a
    // 256-bucket row are absent for this draw, so est == exact
    val a = Seq("u1", "u1", "u2", "u3").toDF("v")
    val b = Seq("u1", "u2", "u2", "u4").toDF("v")
    // exact join size: u1 2*1 + u2 1*2 = 4
    val got = graft.ops.Stats
      .cmsJoinEstimate(graft.ops.Stats.cmsBuild(a, "v"), graft.ops.Stats.cmsBuild(b, "v"))
      .head()
    assert(got.getLong(0) === 4L)
    assert(got.getLong(1) === 4L)
    // one-sided on a wider random draw: estimate >= true join size
    val rnd = new scala.util.Random(3)
    val xs = Seq.fill(400)(s"k${rnd.nextInt(50)}").toDF("v")
    val ys = Seq.fill(400)(s"k${rnd.nextInt(80)}").toDF("v")
    val est = graft.ops.Stats
      .cmsJoinEstimate(graft.ops.Stats.cmsBuild(xs, "v"), graft.ops.Stats.cmsBuild(ys, "v"))
      .head()
      .getLong(1)
    val exact = xs.join(ys, "v").count()
    assert(est >= exact, s"est $est < exact $exact")
    // depth mismatch fails fast
    val e = intercept[IllegalArgumentException](
      graft.ops.Stats.cmsJoinEstimate(
        graft.ops.Stats.cmsBuild(a, "v", depth = 4),
        graft.ops.Stats.cmsBuild(b, "v", depth = 2)))
    assert(e.getMessage.contains("depth"))
  }

  test("Stats.madOutliers: hand median/MAD, robustness to the outlier itself, MAD=0 degenerate") {
    val rows = Seq(
      // g1 values 10,12,14,16,1000: median 14, adevs {4,2,0,2,986} -> MAD 2
      // (exact-walk median of {0,2,2,4,986}); k=3 -> flag iff |x-14| > 3*MAD
      ("g1", 1L, 10.0), ("g1", 2L, 12.0), ("g1", 3L, 14.0), ("g1", 4L, 16.0), ("g1", 5L, 1000.0),
      // g2 all 7 except one 9: MAD 0 -> only the 9 flags
      ("g2", 6L, 7.0), ("g2", 7L, 7.0), ("g2", 8L, 7.0), ("g2", 9L, 9.0),
      // g3 fractional values keep their milli resolution (no truncation):
      // 1.4/1.6/2.4 -> med 1600, MAD 200; only 2.4 flags
      ("g3", 10L, 1.4), ("g3", 11L, 1.6), ("g3", 12L, 2.4)).toDF("g", "id", "v")
    val got = graft.ops.Stats
      .madOutliers(rows, "g", "v", "id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(5L) === ((1000000L, 14000L, 2000L, 1L))) // the outlier flags
    assert(got(1L) === ((10000L, 14000L, 2000L, 0L))) // |10-14| = 2*MAD: no flag
    assert(got(4L) === ((16000L, 14000L, 2000L, 0L)))
    assert(got(9L) === ((9000L, 7000L, 0L, 1L))) // MAD=0: any deviation flags
    assert(got(6L) === ((7000L, 7000L, 0L, 0L)))
    assert(got(12L) === ((2400L, 1600L, 200L, 1L)))
    assert(got(10L) === ((1400L, 1600L, 200L, 0L)))
  }

  test("Stats.linearTrend: exact OLS hand-checks incl. negative slope and truncation") {
    val rows = Seq(
      // perfect line y = 2x + 1 -> slope 2_000_000 micro, intercept 1000
      ("lin", 0L, 1.0), ("lin", 1L, 3.0), ("lin", 2L, 5.0),
      // (0,0),(1,1),(2,1): s1=3000, s2=6 -> slope 500_000; intercept 166
      ("bend", 0L, 0.0), ("bend", 1L, 1.0), ("bend", 2L, 1.0),
      // negative slope with toward-zero truncation: (0,1),(1,0)
      ("neg", 0L, 1.0), ("neg", 1L, 0.0),
      // single-x group: no slope, filtered out
      ("flat", 5L, 9.0), ("flat", 5L, 11.0)).toDF("g", "x", "y")
    val got = graft.ops.Stats
      .linearTrend(rows, "g", "x", "y")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("lin") === ((3L, 2000000L, 1000L)))
    assert(got("bend") === ((3L, 500000L, 166L)))
    assert(got("neg") === ((2L, -1000000L, 1000L)))
    assert(!got.contains("flat"))
  }

  test("Anomaly.cusumChanges: hand fold — sustained shift alarms, steady series reports margins") {
    // key "a": 4 periods at 10 then 4 at 14 -> mean 12 exactly, residuals
    // ±2000 milli, k = 500. The GLOBAL mean straddles both regimes, so the
    // low phase drifts S- by -1500/period: -1500, -3000 -> first alarm
    // (< -2500) already at t=2, side -1; S- bottoms at -6000 (t=4) then
    // recovers. S+ climbs 1500/period through the high phase to 6000.
    // key "b": flat 7s -> mean 7000, residual 0, extremes 0/0, no alarm
    val rows = ((1 to 4).map(i => ("a", i.toLong, 10L)) ++
      (5 to 8).map(i => ("a", i.toLong, 14L)) ++
      (1 to 5).map(i => ("b", i.toLong, 7L))).toDF("k", "t", "n")
    val got = graft.ops.Anomaly
      .cusumChanges(rows, "k", "t", "n", kMilli = 500L, hMilli = 2500L)
      .collect()
      .map(r =>
        r.getString(0) -> ((r.getAs[Long]("m"), r.getAs[Long]("mean_milli"),
          r.getAs[Long]("max_s_pos"), r.getAs[Long]("min_s_neg"),
          r.getAs[Long]("alarm_ts"), r.getAs[Long]("alarm_side"))))
      .toMap
    assert(got("a") === ((8L, 12000L, 6000L, -6000L, 2L, -1L)))
    assert(got("b") === ((5L, 7000L, 0L, 0L, -1L, 0L)))
  }

  test("Checks.audit and orphanCount count dups, nulls, and parentless children") {
    val parent = Seq((1L, "a"), (2L, "b"), (2L, "c"), (3L, null.asInstanceOf[String]))
      .toDF("k", "v")
    val audit = Checks.audit(parent, "k", Seq("v")).collect().head
    assert(audit.getAs[Long]("n_rows") == 4L)
    assert(audit.getAs[Long]("n_dup_keys") == 1L)
    assert(audit.getAs[Long]("n_null_v") == 1L)
    val child = Seq((Some(1L), 10), (Some(9L), 20), (Option.empty[Long], 30))
      .toDF("k", "x")
    val orph = Checks.orphanCount(child, parent, "k", "k").collect().head
    assert(orph.getAs[Long]("n_orphans") == 2L) // key 9 unmatched + null key
  }

  test("Checks.schemaDrift: ok/mismatch/missing/unexpected statuses, case-insensitive catalog types") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "x", Seq(1.0f))).toDF("id", "name", "emb")
    val got = Checks
      .schemaDrift(
        df,
        Seq(
          "id" -> "BIGINT", // case-insensitive match
          "name" -> "string",
          "emb" -> "array<double>", // actually array<float>
          "ts" -> "timestamp"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(got == Map(
      "id" -> "ok",
      "name" -> "ok",
      "emb" -> "type_mismatch",
      "ts" -> "missing"))
    // an uncontracted column reports unexpected
    val extra = Checks.schemaDrift(df, Seq("id" -> "bigint")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(extra("name") == "unexpected" && extra("emb") == "unexpected")
    // NAME matching is case-insensitive like Spark's default resolution:
    // a pure case variance must not read as missing+unexpected
    val cased = Checks.schemaDrift(df, Seq("ID" -> "bigint", "Name" -> "string")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cased("ID") == "ok" && cased("Name") == "ok")
    // duplicate names (legal after joins) surface as duplicated, never ok
    val dup = df.select(col("id"), col("name").as("id"))
    val dupGot = Checks.schemaDrift(dup, Seq("id" -> "bigint")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dupGot("id") == "duplicated")
  }

  test("Checks.expectations: per-rule violation counts in one pass; null rules violate") {
    val df = Seq(
      (1L, Some(5L)),
      (2L, Option.empty[Long]), // null v: "v_nonneg" cannot be confirmed -> violation
      (3L, Some(-1L))
    ).toDF("id", "v")
    val got = Checks.expectations(
      df,
      Seq("v_nonneg" -> (col("v") >= 0), "id_positive" -> (col("id") > 0)))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set(("v_nonneg", 2L, 3L), ("id_positive", 0L, 3L)))
    // one aggregation pass regardless of rule count: no join, single agg pair
    val plan = Checks.expectations(df, Seq("a" -> (col("id") > 0), "b" -> (col("v") >= 0)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(800))
    // EMPTY input: an empty table trivially satisfies every contract —
    // counts must be 0, not NULL (the scheduler gates on n_violations == 0)
    val empty = Checks.expectations(df.filter(col("id") < 0), Seq("r" -> (col("id") > 0)))
      .collect().head
    assert(empty.getLong(1) == 0L && empty.getLong(2) == 0L)
    // duplicate rule names are rejected up front, not at analysis time
    intercept[IllegalArgumentException](
      Checks.expectations(df, Seq("x" -> (col("id") > 0), "x" -> (col("v") >= 0))))
  }

  test("capHotKeys drops a hot NULL-key group (null-safe anti-join)") {
    val df = (Seq.fill(5)(Option.empty[String]) ++ Seq(Some("a"), Some("a"), Some("b")))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "key")
    val kept = graft.ops.Skew.capHotKeys(df, Seq("key"), maxCount = 3)
      .select("key").collect().map(r => Option(r.getString(0)))
    // the 5-row null group exceeds the cap and must be dropped entirely
    assert(!kept.contains(None), s"null hot key leaked through the cap: ${kept.toSeq}")
    assert(kept.sorted.toSeq == Seq(Some("a"), Some("a"), Some("b")))
  }

  test("Checks.keyProfile: top-k hot keys with shares, null bucket, TakeOrdered plan") {
    val df = (Seq.fill(6)(Option(7L)) ++ Seq.fill(3)(Option(8L)) ++
      Seq(Option(9L), Option.empty[Long]))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("row_id", "k")
    val got = Checks.keyProfile(df, "k", topK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 11 rows, 4 distinct buckets (7, 8, 9, (null)); top-2 = 7 then 8
    assert(got.toSeq == Seq(
      ("7", 6L, 545454L, 11L, 4L),
      ("8", 3L, 272727L, 11L, 4L)))
    // null keys surface as their own bucket when hot
    val nulls = (Seq.fill(5)(Option.empty[Long]) ++ Seq(Option(1L)))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("row_id", "k")
    val nb = Checks.keyProfile(nulls, "k", topK = 1).collect().head
    assert(nb.getString(0) == "(null)" && nb.getLong(1) == 5L)
    // top-k must plan as TakeOrdered (per-partition heaps), not a global sort
    val plan = Checks.keyProfile(df, "k", topK = 2).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), plan.take(800))
  }

  test("winsorizeByGroup clamps outliers to the group's quantile band, leaves the bulk alone") {
    // group g: 1..10 plus outliers -100 and 1000; p10 of the 12 values = 1
    // (nearest-rank: cum*100 >= tot*10 at the 2nd value... compute below),
    // p90 covers through 10 -> the 1000 clamps down, -100 clamps up
    val df = ((1L to 10L) ++ Seq(-100L, 1000L)).map(("g", _)).toDF("grp", "v")
    val out = Stats.winsorizeByGroup(df, "grp", "v", 10, 90).collect()
      .map(r => r.getAs[Long]("v") -> r.getAs[Long]("v_w")).toMap
    val sorted = ((1L to 10L) ++ Seq(-100L, 1000L)).sorted
    def nr(p: Int) = sorted(math.ceil(p * 12 / 100.0).toInt - 1)
    assert(out(1000L) == nr(90))
    assert(out(-100L) == nr(10))
    assert(out(5L) == 5L) // interior value untouched
    assert(out.size == 12)
  }

  test("globalRank matches the single-partition window rank on a total order") {
    // values with heavy ties on v, tiebroken by id -> total order
    val df = (0L until 997L).map(i => (i, i % 13)).toDF("id", "v")
    val got = Relational
      .globalRank(df, Seq(col("v").desc, col("id")), rankCol = "r", parts = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toMap
    val exp = df
      .withColumn(
        "r",
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("v").desc, col("id"))))
      .collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong))
      .toMap
    assert(got == exp)
  }

  test("globalNtile matches SQL NTILE semantics including the uneven-remainder buckets") {
    // 10 rows into 4 buckets -> sizes 3,3,2,2 ; and a < n case (3 rows, 4 buckets)
    for (rows <- Seq(10L, 3L, 997L)) {
      val df = (0L until rows).map(i => (i, (i * 37) % 11)).toDF("id", "v")
      // coalesce(1) fuses all ranked partitions into one task — the exact
      // shape Verify's single-file write uses; offsets must survive it
      val got = Relational
        .globalNtile(df, Seq(col("v").desc, col("id")), n = 4, tileCol = "t", parts = 5)
        .coalesce(1)
        .collect()
        .map(r => (r.getLong(0), r.getInt(2)))
        .toMap
      val exp = df
        .withColumn(
          "t",
          ntile(4).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("v").desc, col("id"))))
        .collect()
        .map(r => (r.getLong(0), r.getInt(2)))
        .toMap
      assert(got == exp, s"rows=$rows")
    }
  }

  test("globalRank plan: range exchange only, no SinglePartition, output spread over partitions") {
    val df = (0L until 5000L).map(i => (i, i % 17)).toDF("id", "v")
    val ranked = Relational.globalRank(df, Seq(col("v"), col("id")), parts = 8)
    val p = ranked.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(1500))
    val perPart = ranked
      .groupBy(spark_partition_id().as("pid"))
      .count()
      .collect()
    assert(perPart.length > 1, "ranked output must not collapse to one partition")
  }

  // ---- batch MERGE (CDC apply) --------------------------------------------

  test("mergeApply: latest change wins, deletes drop, inserts add, ghosts no-op") {
    val target = Seq(
      (1L, "a", 10.0), // untouched
      (2L, "b", 20.0), // deleted
      (3L, "c", 30.0), // updated twice; seq 2 must win
      (4L, "d", 40.0) // updated once
    ).toDF("k", "status", "price")
    val changes = Seq(
      (2L, "b", 20.0, 1L, "D"),
      (3L, "STALE", 0.0, 1L, "U"),
      (3L, "c2", 33.0, 2L, "U"),
      (4L, "d2", 44.0, 1L, "U"),
      (5L, "e", 50.0, 1L, "I"), // insert of a new key
      (9L, "x", 0.0, 1L, "D") // delete of a key that never existed
    ).toDF("k", "status", "price", "seq", "op")
    val got = Relational
      .mergeApply(target, changes, Seq("k"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2))))
      .toMap
    assert(
      got == Map(
        1L -> (("a", 10.0)),
        3L -> (("c2", 33.0)),
        4L -> (("d2", 44.0)),
        5L -> (("e", 50.0))))
  }

  test("mergeApply plan: change feed reduced map-side by an aggregate, not a window") {
    val target = (0L until 100L).map(i => (i, s"s$i", i.toDouble)).toDF("k", "status", "price")
    val changes = (0L until 50L).map(i => (i, "u", 1.0, 1L, "U")).toDF("k", "status", "price", "seq", "op")
    val merged = Relational.mergeApply(target, changes, Seq("k"))
    val p = planOf(merged)
    // max(struct(...)) plans as SortAggregate (struct buffers aren't
    // Tungsten-hashable) — the property that matters is the partial
    // (map-side) reduction before the exchange, and no window.
    assert(p.contains("partial_max(struct("), p.take(1500))
    assert(!p.contains("Window"), "latest-change reduction must not be a window:\n" + p.take(1500))
  }

  // ---- windowAggJoin ------------------------------------------------------

  test("windowAggJoin: closed [ts-span, ts] bounds, per-key isolation, null aggs on no match") {
    val probes = Seq(
      (100L, 1L, 50L), // frame [20, 50]: right ts 20, 30, 50 match; 19, 51 don't
      (101L, 1L, 10L), // frame [-20, 10]: no right rows
      (102L, 2L, 50L) // key 2 has one in-frame row; key 1 rows must not leak
    ).toDF("event_id", "user_id", "ts_us")
    val evs = Seq(
      (1L, 19L, 1.0), (1L, 20L, 2.0), (1L, 30L, 4.0), (1L, 50L, 8.0), (1L, 51L, 16.0),
      (2L, 45L, 100.0)
    ).toDF("user_id", "ts_us", "value")
    val got = Relational
      .windowAggJoin(probes, evs, "user_id", "ts_us", "value", spanUnits = 30L)
      .collect()
      .map(r =>
        r.getLong(0) -> ((r.getLong(3), Option(r.get(4)), Option(r.get(5)))))
      .toMap
    assert(got(100L) == ((3L, Some(14.0), Some(8.0))))
    assert(got(101L) == ((0L, None, None)))
    assert(got(102L) == ((1L, Some(100.0), Some(100.0))))
  }

  test("windowAggJoin matches the naive inequality-join reference on random data") {
    val rnd = new scala.util.Random(9)
    val probes = (0L until 60L)
      .map(i => (i, rnd.nextInt(4).toLong, rnd.nextInt(200).toLong))
    val evs = (0L until 300L)
      .map(_ => (rnd.nextInt(4).toLong, rnd.nextInt(200).toLong, (rnd.nextInt(90) + 1) / 4.0))
    val span = 25L
    val expected = probes.map { case (id, k, t) =>
      val in = evs.filter { case (ek, et, _) => ek == k && et >= t - span && et <= t }
      val vals = in.map(_._3)
      id -> ((
        vals.size.toLong,
        if (vals.isEmpty) None else Some(BigDecimal(vals.map(BigDecimal(_)).sum.toDouble)),
        if (vals.isEmpty) None else Some(vals.max)))
    }.toMap
    val got = Relational
      .windowAggJoin(
        probes.toDF("event_id", "user_id", "ts_us"),
        evs.toDF("user_id", "ts_us", "value"),
        "user_id",
        "ts_us",
        "value",
        span)
      .collect()
      .map(r =>
        r.getLong(0) -> ((
          r.getLong(3),
          Option(r.get(4)).map(v => BigDecimal(v.asInstanceOf[Double])),
          Option(r.get(5)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got == expected)
  }

  // ---- rangeJoinOverlap ---------------------------------------------------

  test("rangeJoinOverlap: partial, containment, exact-equal, touching, and empty intervals") {
    val lefts = Seq(
      (1L, 10L, 20L), // partially overlaps r1, contains r2, touches r3 end-to-start
      (2L, 30L, 40L), // equals r4 exactly
      (3L, 50L, 50L), // empty: overlaps nothing even though r5 spans it
      (4L, 60L, 70L) // strictly inside r6
    ).toDF("l_id", "ls", "le")
    val rights = Seq(
      (101L, 15L, 25L), // partial overlap with l1
      (102L, 12L, 14L), // contained in l1
      (103L, 20L, 30L), // starts exactly at l1's end: half-open, no overlap
      (104L, 30L, 40L), // identical to l2
      (105L, 45L, 55L), // spans empty l3: no overlap
      (106L, 55L, 80L) // contains l4
    ).toDF("r_id", "rs", "re")
    val got = Relational
      .rangeJoinOverlap(lefts, rights, "ls", "le", "rs", "re")
      .select("l_id", "r_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == Set((1L, 101L), (1L, 102L), (2L, 104L), (4L, 106L)))
  }

  test("rangeJoinOverlap matches the naive reference on random mixed-length intervals") {
    val rnd = new scala.util.Random(17)
    def mk(n: Int, idBase: Long) = (0 until n).map { i =>
      val s = rnd.nextInt(500).toLong
      // mixed length classes incl. occasional empties and one huge outlier
      val len =
        if (i % 37 == 0) 0L
        else if (i % 23 == 0) 400L
        else (rnd.nextInt(20) + 1).toLong
      (idBase + i, s, s + len)
    }
    val lefts = mk(120, 1000L)
    val rights = mk(40, 2000L)
    val expected = (for {
      (lid, ls, le) <- lefts
      (rid, rs, re) <- rights
      if ls < re && rs < le && ls < le && rs < re
    } yield (lid, rid)).toSet
    val got = Relational
      .rangeJoinOverlap(
        lefts.toDF("l_id", "ls", "le"),
        rights.toDF("r_id", "rs", "re"),
        "ls", "le", "rs", "re")
      .select("l_id", "r_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "a pair surfaced from both halves or both buckets")
    assert(got.toSet == expected)
  }

  test("rangeJoinOverlap plan: two broadcast hash equi-joins, no nested loop") {
    val lefts = (0L until 200L).map(i => (i, i * 7, i * 7 + 5)).toDF("l_id", "ls", "le")
    val rights = (0L until 20L).map(i => (i, i * 50, i * 50 + 30)).toDF("r_id", "rs", "re")
    val p = planOf(Relational.rangeJoinOverlap(lefts, rights, "ls", "le", "rs", "re"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), "overlap join must not nest-loop:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("rangeJoinOverlapBig == rangeJoinOverlap on random mixed-length intervals; never nest-loops") {
    val rnd = new scala.util.Random(23)
    def mk(n: Int, idBase: Long) = (0 until n).map { i =>
      val s = rnd.nextInt(500).toLong
      val len =
        if (i % 37 == 0) 0L
        else if (i % 23 == 0) 400L
        else (rnd.nextInt(20) + 1).toLong
      (idBase + i, s, s + len)
    }
    val lefts = mk(120, 1000L).toDF("l_id", "ls", "le")
    val rights = mk(80, 2000L).toDF("r_id", "rs", "re")
    def pairs(df: DataFrame) =
      df.select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val broad = pairs(Relational.rangeJoinOverlap(lefts, rights, "ls", "le", "rs", "re"))
    val bigDf = Relational.rangeJoinOverlapBig(lefts, rights, "ls", "le", "rs", "re")
    val big = pairs(bigDf)
    assert(big.length == big.toSet.size, "a pair surfaced from both halves or both buckets")
    assert(big.toSet == broad.toSet, "shuffle face diverged from the broadcast face")
    val p = bigDf.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("cached strata: supplied grids trigger no job at composition, a coarser grid stays exact") {
    val probe = (0L until 100L).map(i => (i, i * 3)).toDF("event_id", "ts_us")
    val iv = Seq((1L, 10L, 14L), (2L, 40L, 300L), (3L, 100L, 101L)).toDF("iv_id", "start_us", "end_us")
    val lefts = Seq((10L, 5L, 9L), (11L, 50L, 260L)).toDF("l_id", "ls", "le")
    val ((iDf, oDf, bDf), counts) = Census.measure(spark) {
      // grid deliberately COARSER/superset of the occupied classes, with
      // a duplicate entry (the natural strataA ++ strataB composition)
      // that must not double class-3 matches
      val g = Some(Seq(0, 3, 3, 9, 20))
      val i = Relational.rangeJoinIntervals(probe, iv, "ts_us", "start_us", "end_us", strata = g)
      val o = Relational.rangeJoinOverlap(lefts, iv, "ls", "le", "start_us", "end_us",
        lStrata = g, rStrata = g)
      val b = Relational.rangeJoinOverlapBig(lefts, iv, "ls", "le", "start_us", "end_us",
        lStrata = g, rStrata = g)
      (i, o, b)
    }
    assert(counts.jobs == 0, s"plan composition with supplied strata ran ${counts.jobs} eager jobs")
    // and the coarser grid loses nothing vs the self-computed strata —
    // compared as MULTISETS, so the duplicate grid entry cannot hide a
    // doubled match behind a set-dedup
    def rows(df: DataFrame, cols: (String, String)) =
      df.select(cols._1, cols._2).collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    assert(rows(iDf, ("event_id", "iv_id")) ==
      rows(Relational.rangeJoinIntervals(probe, iv, "ts_us", "start_us", "end_us"), ("event_id", "iv_id")))
    assert(rows(oDf, ("l_id", "iv_id")) ==
      rows(Relational.rangeJoinOverlap(lefts, iv, "ls", "le", "start_us", "end_us"), ("l_id", "iv_id")))
    assert(rows(bDf, ("l_id", "iv_id")) == rows(oDf, ("l_id", "iv_id")))
  }

  test("cached strata: an interval class above the supplied grid max fails fast, never drops") {
    val probe = Seq((1L, 5L)).toDF("event_id", "ts_us")
    val iv = Seq((1L, 0L, 1000000L)).toDF("iv_id", "start_us", "end_us") // class 20
    val df = Relational.rangeJoinIntervals(probe, iv, "ts_us", "start_us", "end_us",
      strata = Some(Seq(0, 4)))
    val e = intercept[Exception] { df.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exceeds the supplied strata grid max 4")),
      s"got: ${messages(e)}")
  }

  test("windowAggJoin plan: one window over the union, no join operator at all") {
    val probes = (0L until 50L).map(i => (i, i % 4, i * 3)).toDF("event_id", "user_id", "ts_us")
    val evs = (0L until 200L).map(i => (i % 4, i, 1.0)).toDF("user_id", "ts_us", "value")
    val p = planOf(Relational.windowAggJoin(probes, evs, "user_id", "ts_us", "value", 10L))
    assert(!p.contains("Join"), "window-agg join must not plan a join:\n" + p.take(1500))
    assert(p.contains("Window"), p.take(1500))
  }

  test("windowAggJoin: null keys follow equi-join semantics (no null-matches-null partition)") {
    val probes = Seq(
      (1L, Some(7L), 100L), // normal
      (2L, None, 100L) // null key: must get the no-match aggregates
    ).toDF("event_id", "user_id", "ts_us")
    val evs = Seq(
      (Some(7L), 95L, 5.0),
      (None, 96L, 50.0), // null-key right row: matches nothing
      (Some(7L), 98L, 7.0)
    ).toDF("user_id", "ts_us", "value")
    val got = Relational
      .windowAggJoin(probes, evs, "user_id", "ts_us", "value", spanUnits = 10L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), Option(r.get(4)))))
      .toMap
    assert(got(1L) == ((2L, Some(12.0))))
    assert(got(2L) == ((0L, None)), "a null-key probe must not aggregate null-key events")
  }

  test("windowAggJoinBucketed == windowAggJoin across bucket widths (incl. bucket == span)") {
    val rnd = new scala.util.Random(31)
    val probes = (0L until 50L)
      .map(i => (i, rnd.nextInt(3).toLong, rnd.nextInt(150).toLong))
      .toDF("event_id", "user_id", "ts_us")
    val evs = (0L until 250L)
      .map(_ => (rnd.nextInt(3).toLong, rnd.nextInt(150).toLong, (rnd.nextInt(80) + 1) / 2.0))
      .toDF("user_id", "ts_us", "value")
    val span = 20L
    def key(df: DataFrame) = df
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), Option(r.get(4)), Option(r.get(5)))))
      .toMap
    val plain = key(Relational.windowAggJoin(probes, evs, "user_id", "ts_us", "value", span))
    for (b <- Seq(20L, 21L, 37L, 64L, 1000L)) {
      val bucketed = key(
        Relational.windowAggJoinBucketed(probes, evs, "user_id", "ts_us", "value", span, b))
      assert(bucketed == plain, s"bucketUnits=$b diverged from the plain window-agg join")
    }
  }

  test("windowAggJoin fails fast when an input carries a reserved internal column") {
    val evs = Seq((7L, 95L, 5.0)).toDF("user_id", "ts_us", "value")
    for (bad <- Seq("__v", "__side", "__bucket")) {
      val probes = Seq((1L, 7L, 100L, 9L)).toDF("event_id", "user_id", "ts_us", bad)
      val el = intercept[IllegalArgumentException] {
        Relational.windowAggJoin(probes, evs, "user_id", "ts_us", "value", 10L)
      }
      assert(el.getMessage.contains(bad), s"left-side $bad must be named in the error")
      val evsBad = Seq((7L, 95L, 5.0, 9L)).toDF("user_id", "ts_us", "value", bad)
      val er = intercept[IllegalArgumentException] {
        Relational.windowAggJoin(Seq((1L, 7L, 100L)).toDF("event_id", "user_id", "ts_us"),
          evsBad, "user_id", "ts_us", "value", 10L)
      }
      assert(er.getMessage.contains(bad), s"right-side $bad must be named in the error")
    }
  }
}
