package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-aggregate maintenance: keep per-key partial
  * aggregates (count / milli-integer sum / min / max) in a batch-keyed
  * parquet store, append partials per batch, and SERVE rollups — at the
  * stored key or any coarser level — by re-aggregating the (tiny) store.
  * The warehouse move this enables at 100 TB: the fact table is read once
  * per batch at ingest time; every later query (daily totals, per-type
  * totals, the grand total, averages) runs over |keys|·|batches| partial
  * rows, never the corpus. All measures are algebraic (count/sum/min/max
  * re-aggregate losslessly across batches AND across grouping levels), and
  * the milli-integer sum is exact — no float addition order, so every face
  * is oracle-hashable.
  *
  * Store lifecycle shared with the sketch stores ([[Stats.ingestKmvBatch]]):
  * batch 0 or a missing store claims the root (stale partials deleted, the
  * key/value schema pinned in `params`); later batches fail fast on a
  * schema mismatch; each batch lands `state/batch_id=N` so checkpoint
  * retries overwrite themselves — exactly-once without a transaction log.
  *
  * Deliberately append-only: retractions can maintain count/sum but not
  * min/max without full value history; CDC-style corrections belong in a
  * compacting rebuild of the affected partitions, not in this store.
  */
object Rollup {

  /** Per-key partial aggregates of one input slice: `n`, exact
    * milli-integer `sum_milli`, `min_milli`, `max_milli`. One map-side
    * combinable aggregate — each map task emits ≤ |keys| rows.
    */
  def aggState(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val vm = round(col(valueCol).cast("double") * 1000, 0).cast("long")
    df.filter(col(valueCol).isNotNull)
      .select(keyCols.map(col) :+ vm.as("vm"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum("vm").cast("long").as("sum_milli"),
        min("vm").cast("long").as("min_milli"),
        max("vm").cast("long").as("max_milli"))
  }

  /** Merge partial states (per shard / per batch) into the union's state —
    * count/sum add, min/max take extrema: exactly the state [[aggState]]
    * would compute over the unioned input (the law the spec pins).
    */
  def mergeStates(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state")
    states
      .map(_.select(keyCols.map(col) ++ Seq(col("n"), col("sum_milli"), col("min_milli"), col("max_milli")): _*))
      .reduce(_ unionByName _)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum("n").cast("long").as("n"),
        sum("sum_milli").cast("long").as("sum_milli"),
        min("min_milli").cast("long").as("min_milli"),
        max("max_milli").cast("long").as("max_milli"))
  }

  /** Serve a rollup from a state at `groupCols` granularity — any SUBSET
    * (including empty = grand total) of the state's key columns: the
    * algebraic measures re-aggregate losslessly, plus the exact integer
    * average `avg_milli = sum div n`. Missing grouping columns in the
    * output are the coarser levels' contract, not NULL-filled cube rows —
    * callers union levels explicitly ([[serveLevels]]) so every row's
    * grain is unambiguous.
    */
  def serve(state: DataFrame, groupCols: Seq[String]): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) state.groupBy()
      else state.groupBy(groupCols.map(col): _*)
    grouped
      .agg(
        sum("n").cast("long").as("n"),
        sum("sum_milli").cast("long").as("sum_milli"),
        min("min_milli").cast("long").as("min_milli"),
        max("max_milli").cast("long").as("max_milli"))
      .withColumn("avg_milli", expr("sum_milli div n").cast("long"))
  }

  /** The GROUPING-SETS face: one row set with every requested level served
    * from the SAME state, levels tagged by a `level` string and absent
    * grouping columns null-filled — a cube computed without ever touching
    * the fact table. The state feeds one consumer per level, so it is
    * materialized once here.
    */
  def serveLevels(state: DataFrame, keyCols: Seq[String], levels: Seq[Seq[String]]): DataFrame = {
    require(levels.nonEmpty, "need at least one level")
    levels.foreach { l =>
      require(
        l.forall(keyCols.contains),
        s"level ${l.mkString("(", ",", ")")} is not a subset of the state key ${keyCols.mkString("(", ",", ")")}")
    }
    val st = state.localCheckpoint()
    levels
      .map { l =>
        val served = serve(st, l)
        val withAll = keyCols.foldLeft(served) { (df, k) =>
          if (l.contains(k)) df else df.withColumn(k, lit(null).cast("string"))
        }
        withAll.select(
          lit(if (l.isEmpty) "total" else l.mkString("+")).as("level") +:
            keyCols.map(k => col(k).cast("string").as(k)) ++:
            Seq(col("n"), col("sum_milli"), col("min_milli"), col("max_milli"), col("avg_milli")): _*)
      }
      .reduce(_ unionByName _)
  }

  private def specOf(keyCols: Seq[String], valueCol: String): String =
    s"${keyCols.mkString(",")}|$valueCol"

  /** Batch contract of the streaming face
    * ([[graft.streaming.RollupIngest.aggIngest]]): the shared store
    * lifecycle — batch 0 (or a missing store) claims the root and pins the
    * key/value spec in `params`; later batches fail fast on a mismatch;
    * each batch lands its own ≤ |keys|-row state under `state/batch_id=N`.
    */
  def ingestAggBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      keyCols: Seq[String],
      valueCol: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val spec = specOf(keyCols, valueCol)
    if (StoreLifecycle.claim(spark, path, batchId, Seq("state")))
      Seq(spec).toDF("spec").coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    else {
      val s0 = spark.read.parquet(s"$path/params").head.getString(0)
      require(s0 == spec, s"rollup store at $path maintains $s0, got $spec")
    }
    aggState(batch, keyCols, valueCol)
      .write
      .mode(SaveMode.Overwrite)
      .parquet(s"$path/state/batch_id=$batchId")
  }

  /** The live merged state: every landed batch's partials re-aggregated —
    * by the merge law exactly [[aggState]] over everything ingested. Scans
    * |batches|·|keys| partial rows; never the raw data.
    */
  def readState(spark: SparkSession, path: String, keyCols: Seq[String]): DataFrame = {
    require(
      StoreLifecycle.storeExists(spark, s"$path/params"),
      s"no rollup store at $path — ingest at least one batch first")
    mergeStates(
      Seq(spark.read.parquet(s"$path/state").select(
        keyCols.map(col) ++ Seq(col("n"), col("sum_milli"), col("min_milli"), col("max_milli")): _*)),
      keyCols)
  }

  /** Streaming maintenance round for the EXACT cumulative-distinct store —
    * [[cumulativeDistinct]]'s first-seen trick as an ingest face, so "unique
    * users since launch, by day" stays exact on an unbounded stream without
    * ever re-deduplicating history: each batch's per-(group, id) minimum
    * period joins the store's strictly-earlier generations' per-id
    * minimum, and ids the stream has never delivered before — plus
    * late-event CORRECTIONS, ids recurring with a strictly earlier
    * period — land under the current batch (keyed
    * `firstseen/batch_id=N`); the batch's observed
    * (group, period) pairs land beside them (`observed/batch_id=N`) so
    * zero-new periods still report 0, not a gap. Checkpoint-retried
    * batches probe only generations `< batchId` and overwrite their own
    * dirs — exactly-once without a transaction log, the
    * [[graft.ops.Dedup.ingestTokenEditBatch]] protocol. Params pin the
    * (group, period, id) column triple; two streams' stores never merge.
    *
    * Semantics contract: the readback is exactly [[cumulativeDistinct]]
    * over the union of all batches REGARDLESS of arrival order. A late
    * RECURRENCE of an already-seen id with a strictly earlier event
    * period lands a correction row under the LATE batch's own dir
    * (history is never rewritten — the exactly-once discipline holds),
    * and [[readCumulativeDistinct]] min-collapses per id before
    * counting, so the stored state converges to the true event-time
    * first period; a same-or-later recurrence lands nothing.
    *
    * Scale shape: per batch, one map-side-combinable min-aggregate over
    * the batch plus one id-keyed min-aggregate + left join against the
    * stored first-seen rows (≤ |all-time distinct ids| + |corrections|,
    * corrections bounded by genuinely-late first arrivals — orders below
    * the event stream); the readback never touches raw events.
    */
  def ingestCumulativeDistinctBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      groupCol: String,
      periodCol: String,
      idCol: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val spec = s"$groupCol|$periodCol|$idCol"
    // the group column's TYPE rides in params too: if a crash lands
    // between this write and the first generation dirs, the read face's
    // empty fallback can still produce a correctly-typed frame instead
    // of assuming StringType
    val grpType = batch.schema(groupCol).dataType.sql
    if (StoreLifecycle.claim(spark, path, batchId, Seq("firstseen", "observed")))
      Seq((spec, grpType)).toDF("spec", "grp_type")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    else {
      val s0 = spark.read.parquet(s"$path/params").head.getString(0)
      require(s0 == spec, s"cumulative-distinct store at $path maintains $s0, got $spec")
    }
    // an empty batch still lands its (empty) generation dirs: they carry
    // the real column TYPES, so the read face on an idle stream returns
    // a correctly-typed empty frame instead of a placeholder schema
    val base = batch
      .filter(col(groupCol).isNotNull && col(periodCol).isNotNull && col(idCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        col(periodCol).cast("long").as("p"),
        col(idCol).as("id"))
      .localCheckpoint() // first-seen aggregate + the observed write
    val firstInBatch = base.groupBy("grp", "id").agg(min("p").as("p"))
    val seenMin =
      if (StoreLifecycle.storeExists(spark, s"$path/firstseen")) {
        val raw = spark.read.parquet(s"$path/firstseen")
        // strictly-earlier generations only: a checkpoint-retried batch
        // must never probe its own half-written rows and drop itself
        (if (raw.columns.contains("batch_id")) raw.filter(col("batch_id") < batchId) else raw)
          .groupBy("grp", "id")
          .agg(min("p").as("p0"))
      } else firstInBatch.select(col("grp"), col("id"), col("p").as("p0")).limit(0)
    // land never-seen ids AND late-event corrections: an id already
    // stored under a LATER period gets a correction row in THIS batch's
    // dir (history is never rewritten — the batch-id-keyed exactly-once
    // discipline holds), and the read face min-collapses per id, so the
    // stored state converges to the true event-time first period no
    // matter the arrival order
    firstInBatch
      .join(seenMin, Seq("grp", "id"), "left")
      .filter(col("p0").isNull || col("p") < col("p0"))
      .select("grp", "id", "p")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$path/firstseen/batch_id=$batchId")
    base.select("grp", "p").distinct()
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$path/observed/batch_id=$batchId")
  }

  /** The live since-launch report: [[cumulativeDistinct]]'s tail over the
    * STORED first-seen rows — per-period first-arrival counts plus the
    * cumulative window over observed (group, period) rows. Output shape
    * (`groupCol`, `period`, `n_new`, `n_total`) matches the batch
    * operator exactly; scans |distinct ids| + |group·period| stored rows,
    * never raw history.
    */
  def readCumulativeDistinct(
      spark: SparkSession,
      path: String,
      groupCol: String): DataFrame = {
    require(
      StoreLifecycle.storeExists(spark, s"$path/params"),
      s"no cumulative-distinct store at $path — ingest at least one batch first")
    import spark.implicits._
    // an idle stream (only empty batches so far) reads as EMPTY, not as
    // an error — the StoreLifecycle contract. Reachable only when a crash
    // landed between the params write and the first generation dirs (a
    // landed batch, even empty, writes typed dirs), so the group type
    // comes from params — never an assumed StringType
    if (!StoreLifecycle.storeExists(spark, s"$path/firstseen")) {
      val pdf = spark.read.parquet(s"$path/params")
      val grpType =
        if (pdf.columns.contains("grp_type"))
          org.apache.spark.sql.types.DataType.fromDDL(pdf.head.getAs[String]("grp_type"))
        else org.apache.spark.sql.types.StringType // pre-typed-params store
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(groupCol, grpType),
        org.apache.spark.sql.types.StructField("period", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_new", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_total", org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    // min-collapse per id FIRST: late-event correction rows (an id
    // re-landed under an earlier period by a later batch) supersede the
    // original, so the count below reads the true event-time first period
    val firstSeen = spark.read.parquet(s"$path/firstseen")
      .groupBy("grp", "id")
      .agg(min("p").as("p"))
      .groupBy("grp", "p")
      .agg(count(lit(1)).cast("long").as("n_new"))
    val observed = spark.read.parquet(s"$path/observed").select("grp", "p").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp")
      .orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    observed
      .join(firstSeen, Seq("grp", "p"), "left")
      .select(col("grp"), col("p"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_total", sum("n_new").over(w).cast("long"))
      .select(col("grp").as(groupCol), col("p").as("period"), col("n_new"), col("n_total"))
  }

  /** Period-over-period deltas — the reporting primitive every dashboard
    * leads with ("vs yesterday / vs last week"): per key and period, the
    * measure plus its value `lag` and `seasonLag` periods back and the
    * integral ppm deltas `(cur − prev)·10⁶ div prev` (trunc division —
    * engine-portable for negative deltas too, since Spark `div` and
    * DuckDB `//` both truncate toward zero). The measure is carried as
    * `round(value·1000)` milli (the repo's integer-milli discipline,
    * same as rankNormalize / ksDrift / ewmaSmooth) so fractional
    * measures — averages, monetary amounts — are scaled, not silently
    * floored; ppm deltas are scale-invariant, so they read identically
    * for count-grain inputs. Rows lacking a comparison
    * period report null delta, not a fabricated zero — "no data" and
    * "flat" are different answers. Periods are compared by POSITION in
    * the key's ordered series, so the caller feeds gap-filled periods
    * (one row per key × period, the [[graft.queries.GenQueries]]
    * `gen_gap_fill` move) when calendar gaps exist.
    *
    * Scale shape: input is a per-(key, period) aggregate — |keys|·
    * |periods| rows, orders below the raw corpus — and both lag windows
    * partition by key; the fact table never moves through this operator.
    */
  /** Exact cumulative distinct count per (group, period) — "unique users
    * since launch, by day" — WITHOUT any dedup-to-date: an id counts
    * from its FIRST period in the group onward, so the answer is one
    * (group, id) min-aggregate, one per-period first-seen count, and a
    * cumulative window over PERIOD rows. A naive implementation
    * re-deduplicates the whole history every period; this one never
    * re-reads it — the since-launch complement of
    * [[graft.ops.Stats.hllSlidingEstimate]]'s trailing window (a
    * trailing distinct genuinely can't use the first-seen trick — ids
    * re-qualify when they recur — which is why that face is a sketch
    * and this one is exact). Output rows cover every period the group
    * was OBSERVED in (zero new ids reported as 0, not a gap); calendar
    * periods with no activity at all aren't rows — gap-fill upstream if
    * the dashboard needs them.
    *
    * Scale shape: the min-aggregate and the first-seen count are
    * map-side combinable over the raw stream; the window runs over
    * |groups|·|periods| aggregate rows.
    */
  def cumulativeDistinct(
      df: DataFrame,
      groupCol: String,
      periodCol: String,
      idCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(periodCol).isNotNull && col(idCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        col(periodCol).cast("long").as("p"),
        col(idCol).as("id"))
    val firstSeen = base
      .groupBy("grp", "id")
      .agg(min("p").as("p"))
      .groupBy("grp", "p")
      .agg(count(lit(1)).cast("long").as("n_new"))
    val observed = base.select("grp", "p").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp")
      .orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    observed
      .join(firstSeen, Seq("grp", "p"), "left")
      .select(col("grp"), col("p"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_total", sum("n_new").over(w).cast("long"))
      .select(col("grp").as(groupCol), col("p").as("period"), col("n_new"), col("n_total"))
  }

  def periodOverPeriod(
      counted: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      seasonLag: Int = 7): DataFrame = {
    require(seasonLag > 1, s"seasonLag must be > 1, got $seasonLag")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol).orderBy("ts")
    counted
      .select(
        col(keyCol),
        col(tsCol).cast("long").as("ts"),
        round(col(valCol).cast("double") * 1000, 0).cast("long").as("n_milli"))
      .withColumn("prev_n_milli", lag("n_milli", 1).over(w))
      .withColumn("season_n_milli", lag("n_milli", seasonLag).over(w))
      .select(
        col(keyCol),
        col("ts"),
        col("n_milli"),
        col("prev_n_milli"),
        expr("CAST(CASE WHEN prev_n_milli IS NOT NULL AND prev_n_milli <> 0 " +
          "THEN (CAST(1000000 AS DECIMAL(38,0)) * (n_milli - prev_n_milli)) div prev_n_milli " +
          "END AS BIGINT)")
          .as("delta_ppm"),
        col("season_n_milli"),
        expr("CAST(CASE WHEN season_n_milli IS NOT NULL AND season_n_milli <> 0 " +
          "THEN (CAST(1000000 AS DECIMAL(38,0)) * (n_milli - season_n_milli)) div season_n_milli " +
          "END AS BIGINT)")
          .as("season_delta_ppm"))
  }
}
