package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality audit aggregates — the pre-flight checks a pipeline runs
  * before trusting an ingest: key uniqueness, null rates, referential
  * integrity. Each check is a counting aggregate (one partial-then-final
  * shuffle, map-side combined) or an anti-join on uniform keys; results
  * are single-row summaries a scheduler can gate on.
  */
object Checks {

  /** Schema-contract check — the generalized lesson of the events-fixture
    * breakage (an upstream producer silently changed a column's physical
    * type and 21 queries died at plan build): compare the OBSERVED schema
    * against a declared (column → catalog type string) contract BEFORE
    * any data is read. One report row per column in either side:
    *
    *   - `ok`            observed type equals the contract;
    *   - `type_mismatch` column present with a different type (the
    *                     EventTime failure class);
    *   - `missing`       contracted column absent from the data;
    *   - `unexpected`    column present but not contracted (a producer
    *                     added fields — usually benign, never silent);
    *   - `duplicated`    the name appears more than once in the schema
    *                     (legal after joins, fatal at first resolution).
    *
    * Purely driver-side metadata (no job, no scan) — the cheapest
    * possible pre-flight, gate it before every ingest. NAMES compare
    * case-insensitively (matching Spark's default resolution under
    * `spark.sql.caseSensitive=false` — a pure case variance must not
    * block an ingest that every query resolves fine); TYPES compare
    * case-insensitively on Spark's catalog strings ("bigint",
    * "timestamp_ntz", "array<float>").
    */
  def schemaDrift(df: DataFrame, expected: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val observed = df.schema
      .map(f => f.name.toLowerCase -> f.dataType.catalogString.toLowerCase)
      .groupBy(_._1)
      .map { case (n, fs) => n -> fs.map(_._2) }
    val contract = expected.map { case (c, t) => (c, c.toLowerCase, t.toLowerCase) }
    val contractCols = contract.map(_._2).toSet
    val rows =
      contract.map { case (orig, c, t) =>
        observed.get(c) match {
          case None => (orig, "missing")
          case Some(ts) if ts.length > 1 => (orig, "duplicated")
          case Some(ts) if ts.head == t => (orig, "ok")
          case Some(_) => (orig, "type_mismatch")
        }
      } ++
        df.schema.map(_.name).distinct.filterNot(n => contractCols(n.toLowerCase)).map { n =>
          (n, if (observed(n.toLowerCase).length > 1) "duplicated" else "unexpected")
        }
    rows.toDF("column", "status")
  }

  /** One-row audit of `df`: row count, duplicate-key count (rows beyond
    * the first per key), and a null count per requested column.
    * `count distinct` expands to a two-phase partial aggregate, so a
    * high-cardinality key never funnels raw rows to one reducer.
    */
  def audit(df: DataFrame, keyCol: String, notNullCols: Seq[String]): DataFrame = {
    val nullCounts = notNullCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_null_$c"))
    df.agg(
      count(lit(1)).cast("long").as("n_rows"),
      (sum(lit(1L)) - countDistinct(col(keyCol))).cast("long").as("n_dup_keys") +:
        nullCounts: _*)
  }

  /** Declarative data-contract check: each rule is a (name, boolean
    * column) pair that must hold for every row; the report is one row per
    * rule with its violation count, plus the total row count. A rule
    * evaluating to NULL on a row counts as a violation (a contract you
    * cannot confirm is not satisfied) — the `coalesce(rule, false)`
    * semantics mirrored in the oracle.
    *
    * All rules ride ONE aggregation pass over the data (a stack of
    * conditional-sum partials, map-side combined — N rules never cost N
    * scans), then pivot long via `stack` so schedulers can gate on
    * `n_violations == 0` rows uniformly.
    */
  def expectations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule required")
    require(
      rules.forall(_._1.matches("[A-Za-z0-9_]+")),
      "rule names must be alphanumeric/underscore")
    require(
      rules.map(_._1).distinct.size == rules.size,
      s"duplicate rule names: ${rules.groupBy(_._1).collect { case (n, rs) if rs.size > 1 => n }.mkString(", ")}")
    val aggs = rules.map { case (name, rule) =>
      // coalesce the sum itself: on an EMPTY input sum() is NULL, and the
      // scheduler gate `n_violations == 0` must pass for an empty table
      coalesce(sum(when(!coalesce(rule, lit(false)), 1L).otherwise(0L)), lit(0L))
        .as(s"__v_$name")
    }
    val one = df.agg(count(lit(1)).cast("long").as("__n"), aggs: _*)
    val stackArgs = rules.map { case (name, _) => s"'$name', __v_$name" }.mkString(", ")
    one.select(
      expr(s"stack(${rules.size}, $stackArgs) AS (rule, n_violations)"),
      col("__n").as("n_rows"))
  }

  /** Per-class classification report — precision / recall / F1 for any
    * (truth, prediction) label pair, the scoreboard every classifier-
    * shaped operator in the repo (language ID, quality gates, the
    * linear filter) owes its threshold: per label `tp`, truth/pred
    * totals, and the three ratios in exact trunc-div ppm — F1 folds to
    * ONE division, `f1_ppm = (2·10⁶·tp) div (n_truth + n_pred)` (the
    * 2PR/(P+R) identity: n_truth + n_pred = 2tp + fp + fn), so no
    * intermediate float ever forms. A label seen only in truth or only
    * in predictions still reports (full outer over the class axis);
    * undefined ratios (empty denominator) read null, never a fake 0.
    * Null truth/prediction rows are EXCLUDED (score what was labeled;
    * audit nulls with [[audit]]). Output:
    * `(label, n_truth, n_pred, tp, precision_ppm, recall_ppm, f1_ppm)`.
    *
    * Scale shape: one (truth, pred) pair aggregate (map-side combined,
    * ≤ |classes|² rows survive), folded along each axis — raw rows
    * shuffle once, everything after is class-grain.
    */
  def classificationReport(
      df: DataFrame,
      truthCol: String,
      predCol: String): DataFrame =
    reportFromCells(confusionCells(df, truthCol, predCol))

  /** The (truth, pred, n) cell aggregate under [[classificationReport]] —
    * mergeable by plain addition, which is what makes the streaming
    * store ([[ingestConfusionBatch]]) exact.
    */
  private def confusionCells(df: DataFrame, truthCol: String, predCol: String): DataFrame =
    df.filter(col(truthCol).isNotNull && col(predCol).isNotNull)
      .select(col(truthCol).cast("string").as("t"), col(predCol).cast("string").as("p"))
      .groupBy("t", "p")
      .agg(count(lit(1)).cast("long").as("n"))

  /** Land one micro-batch's confusion cells under a batch-id-keyed
    * directory — the [[graft.ops.Stats.ingestKmvBatch]] exactly-once
    * recipe (claim-before-empty, retried batches overwrite themselves);
    * cells add, so the store folds to the one-pass report with no
    * history rewrite. Column names pin in params: a stream that switches
    * label columns mid-flight fails fast instead of silently mixing
    * matrices.
    */
  def ingestConfusionBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      truthCol: String,
      predCol: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (StoreLifecycle.claim(spark, path, batchId, Seq("cells")))
      Seq((truthCol, predCol)).toDF("truth_col", "pred_col")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    else {
      val p0 = spark.read.parquet(s"$path/params").head
      require(
        p0.getString(0) == truthCol && p0.getString(1) == predCol,
        s"confusion store at $path pins (${p0.getString(0)}, ${p0.getString(1)}), " +
          s"got ($truthCol, $predCol)")
    }
    confusionCells(batch, truthCol, predCol)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/cells/batch_id=$batchId")
  }

  /** Fold every landed batch's cells into the live per-class report —
    * by cell additivity exactly [[classificationReport]] over the union
    * of all ingested batches, reading |batches|·|classes|² cell rows,
    * never raw data.
    */
  def readClassificationReport(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    reportFromCells(
      spark.read.parquet(s"$path/cells")
        .groupBy("t", "p")
        .agg(sum(col("n")).cast("long").as("n")))

  private def reportFromCells(rawCells: DataFrame): DataFrame = {
    val cells = rawCells
      .localCheckpoint() // consumers: truth axis, pred axis, diagonal
    val byTruth = cells.groupBy(col("t").as("label"))
      .agg(sum(col("n")).cast("long").as("n_truth"))
    val byPred = cells.groupBy(col("p").as("label"))
      .agg(sum(col("n")).cast("long").as("n_pred"))
    val diag = cells
      .filter(col("t") === col("p"))
      .select(col("t").as("label"), col("n").as("tp"))
    byTruth
      .join(byPred, Seq("label"), "full_outer")
      .join(diag, Seq("label"), "left")
      .withColumn("n_truth", coalesce(col("n_truth"), lit(0L)))
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .withColumn("tp", coalesce(col("tp"), lit(0L)))
      .select(
        col("label"),
        col("n_truth"),
        col("n_pred"),
        col("tp"),
        expr("CAST(CASE WHEN n_pred > 0 THEN (1000000 * tp) div n_pred END AS BIGINT)")
          .as("precision_ppm"),
        expr("CAST(CASE WHEN n_truth > 0 THEN (1000000 * tp) div n_truth END AS BIGINT)")
          .as("recall_ppm"),
        expr(
          """CAST(CASE WHEN n_truth + n_pred > 0
            |THEN (2000000 * tp) div (n_truth + n_pred) END AS BIGINT)""".stripMargin)
          .as("f1_ppm"))
  }

  /** Join-key skew profile: the `topK` hottest values of `keyCol` with
    * row counts and integer ppm shares, plus the column's total row and
    * distinct-key counts on every row. This is the measurement step the
    * skew machinery needs — [[graft.ops.Skew.saltedJoin]]'s docstring says
    * "pick saltFactor ~ hot-key rows / target partition rows", and this
    * operator is where hot-key rows comes from.
    *
    * Scale shape: one hash aggregation on the key (map-side partials
    * absorb the hot key — profiling skew must not itself skew), then a
    * TakeOrdered top-k (per-partition heaps, never a global sort) against
    * a 2-column broadcast summary. Ties break on the key string, so the
    * report is deterministic and oracle-hashable. Null keys profile as
    * the literal "(null)" bucket — at 100 TB null-key floods are the
    * single most common accidental hot key.
    */
  def keyProfile(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK > 0, s"topK must be positive (got $topK)")
    val counts = df
      .groupBy(coalesce(col(keyCol).cast("string"), lit("(null)")).as("key"))
      .agg(count(lit(1)).cast("long").as("n_rows"))
    val summary = counts.agg(
      sum("n_rows").cast("long").as("__total"),
      count(lit(1)).cast("long").as("n_keys"))
    counts
      .orderBy(col("n_rows").desc, col("key"))
      .limit(topK)
      .crossJoin(broadcast(summary))
      .select(
        col("key"),
        col("n_rows"),
        expr("n_rows * 1000000 div __total").cast("long").as("share_ppm"),
        col("__total").as("total_rows"),
        col("n_keys"))
  }

  /** Join-cardinality pre-flight: the exact output size an equi-join on
    * `keys` would produce, per key and in total, WITHOUT running the
    * join — Σ |left(k)| · |right(k)| from the two sides' key histograms.
    * The question to ask before paying for a join at 100 TB: a hot key
    * on both sides multiplies, and this report names the keys that
    * would blow up (feed them to [[keyProfile]]/`Skew.saltedJoin` or
    * cap them) while the histograms cost two map-side-combined aggs of
    * |keys| rows each, not |rows|².
    *
    * Returns the `topK` keys by output contribution (ties broken on the
    * key string — deterministic, oracle-hashable) with both side counts,
    * the per-key output rows, the TOTAL across all keys (not just the
    * top), and ppm shares. Null keys bucket as "(null)" on both sides —
    * equi-joins drop null keys, so they are profiled via [[keyProfile]]
    * instead and excluded here.
    *
    * The products are computed in decimal(38,0): `n_left * n_right` and
    * `n_out * 1e6` exceed Long exactly when there IS a blow-up key (4M x
    * 3M rows = 1.2e13 output; x 1e6 = 1.2e19 > Long.Max), and a pre-flight
    * that overflows on the key it exists to name is useless. Ranking and
    * `share_ppm` are exact at any scale; the BIGINT `n_out`/`total_out`
    * render null (try_cast) past 9.2e18 rather than wrapping.
    */
  def joinCardinality(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      topK: Int = 10): DataFrame = {
    require(topK > 0, s"topK must be positive (got $topK)")
    def hist(df: DataFrame, nCol: String) = df
      .filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).cast("long").as(nCol))
    val perKey = hist(left, "n_left")
      .join(hist(right, "n_right"), Seq("key"))
      .withColumn(
        "__n_out_d",
        col("n_left").cast("decimal(19,0)") * col("n_right").cast("decimal(19,0)"))
    val total = perKey.agg(sum("__n_out_d").cast("decimal(38,0)").as("__total"))
    perKey
      .orderBy(col("__n_out_d").desc, col("key"))
      .limit(topK)
      .crossJoin(broadcast(total))
      .select(
        col("key"),
        col("n_left"),
        col("n_right"),
        expr("try_cast(__n_out_d as bigint)").as("n_out"),
        expr("try_cast(__total as bigint)").as("total_out"),
        // decimal floor-div: exact; value bounded by 1e6 so the cast is safe
        floor(col("__n_out_d") * lit(1000000L) / col("__total")).cast("long").as("share_ppm"))
  }

  /** Referential-integrity violation count: rows of `child` whose
    * `childKey` has no match in `parent.parentKey` (null keys count as
    * orphans — they reference nothing). Anti join on the key: the parent
    * side prunes to its key column, both sides shuffle uniformly.
    */
  def orphanCount(
      child: DataFrame,
      parent: DataFrame,
      childKey: String,
      parentKey: String): DataFrame =
    child
      .join(
        parent.select(col(parentKey).as(childKey)),
        Seq(childKey),
        "left_anti")
      .agg(count(lit(1)).cast("long").as("n_orphans"))

  /** Column profile — the DESCRIBE-grade audit run before trusting a new
    * table: one row per profiled column with row count, null count and
    * share (ppm, integral `div`), and EXACT distinct cardinality. The
    * completeness/cardinality complement of [[keyProfile]] (one key,
    * deep) across the whole schema (every column, shallow); min/max are
    * deliberately out of scope — stringified extrema are not
    * engine-portable across float formatting, and the typed quantile
    * faces ([[graft.ops.Stats]]) answer range questions properly.
    *
    * Scale shape: ONE aggregation pass — Spark plans the multi-column
    * distinct via Expand (one input row fans to |cols|+1 aggregation
    * rows), so cost is |cols| × one scan's aggregation, not |cols|
    * scans. For very wide tables profile a column subset per run; the
    * explicit `cols` parameter is that knob.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: columns not in schema: ${missing.mkString(", ")}")
    // 100 TB note: |cols| exact countDistincts = |cols| full dedup
    // aggregations over the Expand fan-out. When "roughly how many
    // distincts" is the actual question — it usually is for a pre-flight
    // audit — [[profileApprox]] answers it with the deterministic HLL's
    // bounded per-task state instead.
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = Seq(count(lit(1)).cast("long").as("n_rows")) ++ cols.flatMap { c =>
      Seq(
        count(col(c)).cast("long").as(s"__nn_$c"),
        countDistinct(col(c)).cast("long").as(s"__nd_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("n_rows")
    cols.map { c =>
      val nn = row.getAs[Long](s"__nn_$c")
      val ppm = if (n == 0) 0L else (BigInt(1000000) * (n - nn) / n).toLong // wraps a long past ~9.2e12 rows
      (c, n, n - nn, ppm, row.getAs[Long](s"__nd_$c"))
    }.toDF("col_name", "n_rows", "n_null", "null_ppm", "n_distinct")
  }

  /** [[profile]] with the distinct cardinality APPROXIMATED by the
    * deterministic HLL ([[graft.ops.Stats.hllSketch]], m = 256, ~6.5%
    * rsd) — the 100 TB face of the pre-flight audit: exact `profile`
    * pays |cols| full dedup aggregations; this pays two map-side-
    * combinable aggregates whose per-task state is ≤ 257 rows per
    * column regardless of input size. Values are hashed through their
    * STRING cast (the [[graft.ops.Stats.hllSketch]] contract), so two
    * values count as one distinct iff their casts collide — fine for
    * string/integer columns; float columns inherit the engine's float
    * formatting, so profile those through an explicit rounding
    * projection when the estimate must be engine-portable.
    * `n_distinct_est` is the HLL's selected `est` (small-range rule
    * in-plan), deterministic, so the whole report is oracle-hashable;
    * an all-null column reports 0.0.
    *
    * Scale shape: one explode fans each row to |cols| (the same fan the
    * exact profile's Expand pays), then ONE counts aggregate and ONE
    * register aggregate, both map-side combinable; output is |cols|
    * rows.
    */
  def profileApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileApprox needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profileApprox: columns not in schema: ${missing.mkString(", ")}")
    val spark = df.sparkSession
    import spark.implicits._
    // _outer + a generated-attribute filter: a plain explode would let
    // InferFiltersFromGenerate push an isnotnull/size filter below this
    // projection and re-evaluate the whole |cols|-struct construction per
    // row in a non-codegen Filter (the SCALE.md trap); the array is
    // non-empty by construction (cols.nonEmpty is required above)
    val exploded = df
      .select(
        explode_outer(
          array(cols.map(c => struct(lit(c).as("grp"), col(c).cast("string").as("v"))): _*))
          .as("s"))
      .filter(col("s").isNotNull)
      .select(col("s.grp").as("grp"), col("s.v").as("v"))
    val counts = exploded
      .groupBy("grp")
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        (count(lit(1)) - count(col("v"))).cast("long").as("n_null"))
    val est = graft.ops.Stats
      .hllEstimate(graft.ops.Stats.hllSketch(exploded, "grp", "v"), "grp")
      .select(col("grp"), col("est").as("n_distinct_est"))
    // seed from the requested names so an empty input still reports a row
    // per column, like the exact profile does
    cols.toDF("grp")
      .join(counts, Seq("grp"), "left")
      .join(est, Seq("grp"), "left")
      .select(
        col("grp").as("col_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_null"), lit(0L)).as("n_null"),
        // decimal-widened ppm: 10^6 * n_null wraps a long past ~9.2e12 rows
        coalesce(
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_null) div n_rows AS BIGINT)"),
          lit(0L)).as("null_ppm"),
        coalesce(col("n_distinct_est"), lit(0.0)).as("n_distinct_est"))
  }
}
