package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution statistics over a corpus, computed exactly but in the
  * shape that scales: aggregate FIRST, then analyze the (tiny) aggregate.
  */
object Stats {

  /** Per-group heavy-hitter tokens via the Misra-Gries k-counter sketch
    * ([[graft.functions.MisraGries]], registered as a `udaf`): for every
    * group, the candidate tokens occurring more than ~N_group/k times with
    * their (under-)estimated counts. The sketch state is k entries per
    * group REGARDLESS of vocabulary size — this is the operator a pipeline
    * reaches for when the per-(group, token) exact aggregation behind
    * [[graft.ops.TextAnalysis.topTerms]] no longer fits the shuffle.
    *
    * One-sided error (no false negatives; counts undercount by <= N/k) is
    * guaranteed under any merge order — asserted against exact counts in
    * the spec; like the GK quantile sketch, the counts themselves are
    * merge-order-dependent and therefore deliberately not oracle-hashed.
    */
  def heavyHitters(
      docs: DataFrame,
      k: Int = 8,
      groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(k))
    docs
      .select(col(groupCol).as("grp"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("grp")
      .agg(mg(col("tok")).as("hitters"))
      .select(
        col("grp").as(groupCol),
        transform(
          col("hitters"),
          h => struct(h.getField("_1").as("token"), h.getField("_2").as("est"))).as("hitters"))
  }

  /** Exact per-group discrete quantiles of an integer-valued column via a
    * value histogram + cumulative window.
    *
    * `groupBy(group, value).count()` compacts the input to one row per
    * DISTINCT (group, value) — for bounded-domain measures (doc lengths,
    * token counts, scores) that is orders of magnitude smaller than the
    * data, and it is the only full-data shuffle. The cumulative-count
    * window then runs over the compact histogram, so the per-group sort
    * that makes naive exact quantiles unscalable touches thousands of
    * rows, not billions. (A sketch — approx_percentile / t-digest — is the
    * fallback for unbounded domains, at the cost of exactness; here the
    * exact answer is cheap AND oracle-hashable.)
    *
    * Quantile rule: nearest-rank with integer arithmetic — the p-th
    * quantile (p out of 100) is the smallest value whose cumulative count
    * satisfies `cum * 100 >= p * total`. Pure integer compares keep the
    * result bit-identical across engines (no float `ceil(p*n)` whose
    * rounding could differ between a DECIMAL-literal and a DOUBLE-literal
    * dialect).
    *
    * Output: group, n_rows, p{p} for each requested p — all BIGINT.
    */
  def quantilesByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      percents: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    val hist = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
    val cumW = Window
      .partitionBy(groupCol)
      .orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(groupCol)
    val cum = hist
      .withColumn("cum", sum("cnt").over(cumW))
      .withColumn("tot", sum("cnt").over(totW))
    val qCols: Seq[Column] = percents.map { p =>
      min(when(col("cum") * 100 >= col("tot") * p, col(valueCol)))
        .cast("long")
        .as(s"p$p")
    }
    cum
      .groupBy(col(groupCol))
      .agg(max("tot").cast("long").as("n_rows"), qCols: _*)
  }

  /** Cramér's V² — association strength between two CATEGORICAL columns
    * ("does source determine language?"), the effect size
    * [[chiSquareDrift]]'s test statistic doesn't give (χ² grows with n;
    * V² ∈ [0, 1] doesn't): `V² = χ² / (n·min(r−1, c−1))`. Squared form
    * so everything stays integer — χ² per cell has the exact rational
    * form `(O·n − r·c)² / (n·r·c)` (expected-count algebra multiplied
    * through), shipped as per-cell trunc-div milli and summed;
    * `v2_ppm = 1000·χ²_milli div (n·m)`. A single-level column reads
    * null V² (no association is measurable), with χ² still reported.
    * Exact headroom: n⁴ must fit decimal(38) milli → ~10⁸ rows. Output
    * 1 row: `(n, levels_a, levels_b, chi2_milli, v2_ppm)`.
    *
    * Scale shape: one (a, b) cell aggregate (map-side combined,
    * ≤ r·c rows survive), two level-keyed joins pulling margins onto
    * cells, the 1-row totals broadcast, one fold.
    */
  def cramersV2(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).cast("string").as("a"), col(colB).cast("string").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).cast("long").as("o"))
      .localCheckpoint() // consumers: row margins, col margins, totals, fold
    val ra = cells.groupBy("a").agg(sum(col("o")).cast("long").as("r"))
    val cb = cells.groupBy("b").agg(sum(col("o")).cast("long").as("c"))
    val tot = cells.agg(
      sum(col("o")).cast("long").as("n"),
      countDistinct(col("a")).cast("long").as("levels_a"),
      countDistinct(col("b")).cast("long").as("levels_b"))
    cells
      .join(ra, Seq("a"))
      .join(cb, Seq("b"))
      .crossJoin(broadcast(tot))
      .select(
        col("n"),
        col("levels_a"),
        col("levels_b"),
        expr(
          """(1000 * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) *
            |        (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c))
            |div (CAST(n AS DECIMAL(38,0)) * r * c)""".stripMargin).as("term"),
        expr("CAST(r AS DECIMAL(38,0)) * c").as("rc"))
      .groupBy("n", "levels_a", "levels_b")
      // UNOBSERVED cells still owe their expected mass E = r·c/n: the
      // closed form Σ_empty E = (n² − Σ_observed r·c)/n avoids ever
      // materializing the r×c grid
      .agg(
        (sum(col("term")) +
          expr("(1000 * (CAST(n AS DECIMAL(38,0)) * n - sum(rc)) div n)"))
          .cast("long").as("chi2_milli"))
      .select(
        col("n"),
        col("levels_a"),
        col("levels_b"),
        col("chi2_milli"),
        expr(
          """CAST(CASE WHEN least(levels_a - 1, levels_b - 1) > 0
            |THEN (1000 * chi2_milli) div (n * least(levels_a - 1, levels_b - 1))
            |END AS BIGINT)""".stripMargin).as("v2_ppm"))
  }

  /** Quantile–quantile shift curve between two cohorts — the SHAPE
    * readout next to [[ksDrift]]'s one-number verdict: per group and
    * requested percentile, cohort A's and B's exact values and their
    * difference, so "the median moved 2 points but the p90 moved 40"
    * is one scan instead of a forensic session. Composes
    * [[quantilesByGroup]] on each side (integer-valued measures, exact
    * nearest-rank, bit-identical across engines); groups present in
    * only one cohort drop (a shift needs both ends — audit presence
    * with [[welchTTest]]'s full-outer face). Output one row per
    * (group, p): `(group, n_a, n_b, p, q_a, q_b, shift)`.
    *
    * Scale shape: two histogram-compact quantile passes + one
    * group-keyed join + an in-plan stack unpivot — nothing beyond
    * [[quantilesByGroup]]'s envelope.
    */
  def qqShift(
      a: DataFrame,
      b: DataFrame,
      groupCol: String,
      valueCol: String,
      percents: Seq[Int] = Seq(10, 25, 50, 75, 90)): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1, 100], got $percents")
    require(percents.distinct.size == percents.size,
      s"percents must be distinct (duplicates would alias the same a_p/b_p column twice), got $percents")
    val qa = quantilesByGroup(a, groupCol, valueCol, percents)
      .select(
        col(groupCol) +: col("n_rows").as("n_a") +:
          percents.map(p => col(s"p$p").as(s"a_p$p")): _*)
    val qb = quantilesByGroup(b, groupCol, valueCol, percents)
      .select(
        col(groupCol) +: col("n_rows").as("n_b") +:
          percents.map(p => col(s"p$p").as(s"b_p$p")): _*)
    val items = percents.map(p => s"${p}L, a_p$p, b_p$p").mkString(", ")
    qa.join(qb, Seq(groupCol))
      .select(
        col(groupCol),
        col("n_a"),
        col("n_b"),
        expr(s"stack(${percents.size}, $items) AS (p, q_a, q_b)"))
      .withColumn("shift", col("q_b") - col("q_a"))
  }

  /** Two-proportion z-test per group — "did the conversion rate really
    * move": cohort success counts against pooled expectation, the
    * categorical twin of [[welchTTest]]. ENTIRELY integer: the squared
    * z-statistic has the closed rational form
    * `z² = (x_a·n_b − x_b·n_a)²·(n_a+n_b) /
    *       (n_a·n_b·(x_a+x_b)·(n_a+n_b−x_a−x_b))`
    * (pooled-variance algebra multiplied through), shipped as
    * `z2_milli = 1000·num div den` over decimal(38,0) — no sqrt, no
    * float, monotone in |z| so the 5% two-sided cut is
    * `significant = z2_milli > 3841` (the [[mannKendall]] constant).
    * Trunc-div makes the realized cut z² ≥ 3.842, a ~0.0005-wide
    * conservative band vs the exact 3.8415: true z² in
    * (3.8415, 3.842) reads not-significant. The oracle mirrors the
    * same milli arithmetic, so both engines agree; callers who need
    * the exact boundary should compare `z2_milli` to their own
    * finer-scaled constant.
    * Degenerate groups (a side empty, or all-success/all-failure
    * pooled) read null — "not testable" is not "no lift". Exact
    * headroom: 1000·n⁵ must fit decimal(38) → cohorts to ~3·10⁶ rows
    * per group; past that, rates are so precise the test is moot. Output:
    * `(group, n_a, x_a, n_b, x_b, p_a_ppm, p_b_ppm, z2_milli,
    * significant)`.
    *
    * Scale shape: one map-side-combinable aggregate per cohort + a
    * ≤|groups|-row full-outer join — raw rows never meet
    * (the [[chiSquareDrift]] shape).
    */
  def twoProportionTest(
      a: DataFrame,
      b: DataFrame,
      groupCol: String,
      successCol: String): DataFrame = {
    def m(df: DataFrame, tag: String) =
      df.filter(col(groupCol).isNotNull && col(successCol).isNotNull)
        .select(
          col(groupCol).as("grp"),
          when(col(successCol).cast("boolean"), 1L).otherwise(0L).as("s"))
        .groupBy("grp")
        .agg(
          count(lit(1)).cast("long").as(s"n_$tag"),
          sum(col("s")).cast("long").as(s"x_$tag"))
    val num = "(CAST(x_a AS DECIMAL(38,0)) * n_b - CAST(x_b AS DECIMAL(38,0)) * n_a) * " +
      "(CAST(x_a AS DECIMAL(38,0)) * n_b - CAST(x_b AS DECIMAL(38,0)) * n_a) * (n_a + n_b)"
    val den = "CAST(n_a AS DECIMAL(38,0)) * n_b * (x_a + x_b) * (n_a + n_b - x_a - x_b)"
    m(a, "a")
      .join(m(b, "b"), Seq("grp"), "full_outer")
      .withColumn("n_a", coalesce(col("n_a"), lit(0L)))
      .withColumn("x_a", coalesce(col("x_a"), lit(0L)))
      .withColumn("n_b", coalesce(col("n_b"), lit(0L)))
      .withColumn("x_b", coalesce(col("x_b"), lit(0L)))
      .select(
        col("grp").as(groupCol),
        col("n_a"),
        col("x_a"),
        col("n_b"),
        col("x_b"),
        expr("CAST(CASE WHEN n_a > 0 THEN (1000000 * x_a) div n_a END AS BIGINT)")
          .as("p_a_ppm"),
        expr("CAST(CASE WHEN n_b > 0 THEN (1000000 * x_b) div n_b END AS BIGINT)")
          .as("p_b_ppm"),
        expr(s"CAST(CASE WHEN $den > 0 THEN (1000 * $num) div ($den) END AS BIGINT)")
          .as("z2_milli"))
      // derived from the ONE z2 computation (null z2 -> null verdict),
      // so the statistic and its cut can never diverge
      .withColumn("significant", col("z2_milli") > 3841L)
  }

  /** Sketch-path quantiles for unbounded/continuous domains where the
    * value histogram of [[quantilesByGroup]] would not compact:
    * `approx_percentile` (Greenwald-Khanna) is a bounded-size mergeable
    * sketch, so the aggregation stays one partial-then-final shuffle no
    * matter the domain. Not oracle-hashable (sketch contents depend on
    * merge order); certified instead by a rank-error bound against the
    * exact operator in `RelationalSpec`.
    */
  def approxQuantilesByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      percents: Seq[Int] = Seq(25, 50, 75, 90),
      accuracy: Int = 10000): DataFrame = {
    val pcts = percents.map(_ / 100.0).mkString("array(", ", ", ")")
    val sketch = df.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("long").as("n_rows"),
      expr(s"approx_percentile($valueCol, $pcts, $accuracy)").as("qs"))
    percents.zipWithIndex
      .foldLeft(sketch) { case (acc, (p, i)) =>
        acc.withColumn(s"p$p", element_at(col("qs"), i + 1).cast("long"))
      }
      .drop("qs")
  }

  /** Per-group winsorization: clamp `valueCol` to its group's
    * [p`loPct`, p`hiPct`] exact quantile band — the standard outlier
    * treatment before statistics that a single pathological value would
    * dominate (means, regressions, per-source budget math).
    *
    * Composes [[quantilesByGroup]]: the thresholds table is |groups|
    * rows (broadcast back), the clamp itself a stateless projection —
    * the data moves only through the quantile histogram's compaction
    * shuffle, and that one touches distinct (group, value) pairs, not
    * rows.
    */
  def winsorizeByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      loPct: Int = 5,
      hiPct: Int = 95): DataFrame = {
    require(0 <= loPct && loPct < hiPct && hiPct <= 100, s"bad band [$loPct,$hiPct]")
    val th = quantilesByGroup(df, groupCol, valueCol, Seq(loPct, hiPct))
      .select(col(groupCol), col(s"p$loPct").as("lo"), col(s"p$hiPct").as("hi"))
    df.join(broadcast(th), Seq(groupCol))
      .withColumn(
        s"${valueCol}_w",
        least(greatest(col(valueCol).cast("long"), col("lo")), col("hi")))
      .drop("lo", "hi")
  }

  /** Per-group distinct cardinality, exact and sketched side by side:
    * `n_exact` via count-distinct (expands to a (group, value) partial
    * aggregate — tree-safe but O(distinct) state), `n_approx` via
    * HyperLogLog++ (fixed ~1.5 KB of state per group at 2% rsd — the only
    * option when distinct cardinality itself is cluster-scale). The spec
    * bounds the sketch's relative error against the exact count.
    */
  def distinctCounts(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      rsd: Double = 0.02): DataFrame =
    df.groupBy(col(groupCol)).agg(
      countDistinct(col(valueCol)).cast("long").as("n_exact"),
      approx_count_distinct(col(valueCol), rsd).cast("long").as("n_approx"))

  /** The k smallest DISTINCT 56-bit hash values per group — the KMV
    * (k-minimum-values) distinct-count sketch state (Bar-Yossef et al.
    * 2002). Unlike [[distinctCounts]]'s HLL++ (engine-private register
    * layout), KMV is EXACTLY portable: the hash is the first 14 hex digits
    * of md5 parsed base-16, so the DuckDB oracle reproduces the sketch
    * bit-for-bit, and two sketches merge by union + re-trim (the k
    * smallest of a union are among the union of each side's k smallest) —
    * see [[kmvMerge]].
    *
    * Scale shape: the distinct pass is a map-side-combinable partial
    * aggregate; the rank-≤-k filter plans as WindowGroupLimit, which
    * inserts a PER-MAP-TASK group limit BEFORE the shuffle — so each map
    * task contributes at most k rows per group to the exchange regardless
    * of input size, the bounded-memory property that makes the sketch
    * usable where the exact per-(group, value) aggregate no longer fits.
    */
  def kmvSketch(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 64): DataFrame = {
    requireKmvK(k)
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 14), 16, 10).cast("long")
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), h.as("h"))
      .distinct()
      .withColumn("rk", row_number().over(Window.partitionBy("grp").orderBy("h")))
      .filter(col("rk") <= k)
      .select(col("grp"), col("h"), lit(k).as("k")) // self-describing: consumers validate k
  }

  /** Validate the `k` stamped on sketches (when present) against the
    * caller's k — a sketch built with a smaller k looks like an
    * unsaturated ("exact") sketch of the larger k and silently reports
    * garbage, the one failure the persisted stores' params pin already
    * prevents. One bounded driver aggregate over the (≤ k·|groups|-row)
    * sketches at construction time; inputs WITHOUT the column (persisted
    * store reads, which pin k in params) fall back to the documented
    * same-k contract.
    */
  private def requireSketchK(sketches: Seq[DataFrame], k: Int): Unit =
    sketches.filter(_.columns.contains("k")).foreach { df =>
      val ks = stampedKs(df)
      require(
        ks.forall(_ == k),
        s"KMV sketches were built with k in [${ks.min}, ${ks.max}], caller passed " +
          s"k=$k — sketches of different k do not merge or compare")
    }

  /** The k values stamped on a sketch. Fast path: [[kmvSketch]]/[[kmvMerge]]
    * stamp `lit(k)`, so the values are LITERALS in the analyzed plan —
    * read statically, no job (the first cut ran a validation aggregate,
    * which re-executed the whole sketch subtree per consumer and tripled
    * `stats_kmv_merged`). Fallback for sketches whose k column is real
    * data (a parquet round-trip): one bounded aggregate over the
    * ≤ k·|groups|-row sketch.
    */
  private def stampedKs(df: DataFrame): Set[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    // ONLY the outermost Project: a deeper subtree may carry an unrelated
    // alias of the same name (e.g. a frame derived from another sketch)
    // and must not be mistaken for this sketch's stamp
    val lits: Seq[Option[Int]] = df.queryExecution.analyzed match {
      case p: Project =>
        p.projectList.collect { case a: Alias if a.name == "k" =>
          a.child match {
            case Literal(v: Int, _) => Some(v)
            case _ => None
          }
        }
      case _ => Seq.empty
    }
    if (lits.nonEmpty && lits.forall(_.isDefined)) lits.flatten.toSet
    else {
      val r = df.select(col("k").cast("int").as("k")).agg(min("k"), max("k")).head()
      if (r.isNullAt(0)) Set.empty else Set(r.getInt(0), r.getInt(1))
    }
  }

  /** k ≤ 128 keeps the estimator constant `(k-1)·2^56` inside Long
    * (129·2^56 would wrap negative and poison every full-sketch group's
    * estimate); widen the estimate to decimal arithmetic before raising
    * the cap.
    */
  private def requireKmvK(k: Int): Unit =
    require(k >= 2 && k <= 128, s"k must be in [2, 128], got $k")

  /** Estimate per-group distinct cardinality from a KMV sketch: with fewer
    * than k survivors the sketch saw every distinct value and the count is
    * EXACT; at k survivors the classic unbiased-ish estimator
    * `(k-1) · 2^56 div h_k` (k-th smallest hash as a fraction of the hash
    * space) — all integer, engine-portable. Relative error ~1/sqrt(k-2)
    * (≈13% at k=64, ≈9% at the k=128 cap — state is k longs/group; see
    * [[requireKmvK]] for why the cap exists).
    */
  def kmvEstimate(sketch: DataFrame, groupCol: String, k: Int = 64): DataFrame = {
    requireKmvK(k)
    requireSketchK(Seq(sketch), k)
    val scale = (k - 1).toLong * (1L << 56)
    sketch
      .groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_kept"), max("h").as("h_k"))
      .select(
        col("grp").as(groupCol),
        col("n_kept"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"CAST($scale AS BIGINT) div h_k"))
          .cast("long")
          .as("est_distinct"))
  }

  /** Merge KMV sketches (e.g. one per day / per corpus shard) into the
    * union's sketch: distinct-union the survivor sets, re-trim to the k
    * smallest. Exactly equal to sketching the unioned input — the property
    * the spec pins — so long-lived rollups never re-read raw data.
    */
  def kmvMerge(sketches: Seq[DataFrame], k: Int = 64): DataFrame = {
    requireKmvK(k)
    requireSketchK(sketches, k)
    sketches
      .map(_.select("grp", "h"))
      .reduce(_ unionByName _)
      .distinct()
      .withColumn("rk", row_number().over(Window.partitionBy("grp").orderBy("h")))
      .filter(col("rk") <= k)
      .select(col("grp"), col("h"), lit(k).as("k"))
  }

  /** [[kmvSketch]] + [[kmvEstimate]] in one call. */
  def kmvDistinct(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 64): DataFrame =
    kmvEstimate(kmvSketch(df, groupCol, valueCol, k), groupCol, k)

  /** Set-overlap estimate between two KMV sketches (the k-min-values
    * intersection estimator, Beyer et al. 2007): per group, the union
    * sketch's survivors are flagged with which side(s) they came from, and
    * the fraction carried by BOTH sides estimates the Jaccard similarity —
    * `est_intersect = n_both · est_union div n_kept`. The pipeline use is
    * corpus-pair overlap ("how much of crawl B is already in crawl A")
    * from sketches alone: the raw corpora are never re-read, so a
    * snapshot-×-snapshot overlap matrix costs |sketches|², not |data|².
    *
    * Both inputs are [[kmvSketch]] outputs (`grp`, `h`) built with the
    * SAME k (groups present on one side only report n_both = 0 and the
    * single side's union estimate). When the union sketch is unsaturated
    * (n_kept < k) both sides were complete, so union, intersection and
    * Jaccard are EXACT, not estimates — same exact-below-k contract as
    * [[kmvEstimate]].
    *
    * All integer (Jaccard in milli-units), engine-portable, hence
    * oracle-hashable. Scale shape: inputs are ≤ k rows per group by
    * construction; the side-flag union is a ≤ 2k-row-per-group aggregate,
    * the rank-≤-k trim plans as WindowGroupLimit, and the final rollup is
    * one ≤ |groups|-key aggregation.
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, groupCol: String, k: Int = 64): DataFrame = {
    requireKmvK(k)
    requireSketchK(Seq(a, b), k)
    val scale = (k - 1).toLong * (1L << 56)
    val pooled = a
      .select(col("grp"), col("h"), lit(1L).as("in_a"), lit(0L).as("in_b"))
      .unionAll(b.select(col("grp"), col("h"), lit(0L).as("in_a"), lit(1L).as("in_b")))
      .groupBy("grp", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
      .withColumn("rk", row_number().over(Window.partitionBy("grp").orderBy("h")))
      .filter(col("rk") <= k)
    pooled
      .groupBy("grp")
      .agg(
        count(lit(1)).cast("long").as("n_kept"),
        max("h").as("h_k"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_both"))
      .withColumn(
        "est_union",
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"CAST($scale AS BIGINT) div h_k"))
          .cast("long"))
      .select(
        col("grp").as(groupCol),
        col("n_kept"),
        col("n_both"),
        col("est_union"),
        expr("n_both * est_union div n_kept").cast("long").as("est_intersect"),
        expr("n_both * 1000 div n_kept").cast("long").as("jaccard_milli"))
  }

  /** Count-min sketch counter table (Cormode & Muthukrishnan 2005):
    * `depth` independent-ish hash rows derived from ONE md5 (hex digits
    * 2d+1..2d+2 give row d's bucket in 0..255), each row a 256-counter
    * histogram of total occurrences. State is depth·256 longs REGARDLESS
    * of cardinality — the frequency-estimation complement of
    * [[kmvSketch]] (distinct) and [[heavyHitters]] (top keys): point
    * lookups for ANY value after one pass, one-sided error (over-count
    * only, bounded by ~N/width per row, min over rows tightens it).
    * Exactly portable: the DuckDB oracle rebuilds the same counters from
    * the same md5 digits. Sketches MERGE by adding counters
    * ([[cmsMerge]]) — build per shard/day, roll up forever.
    *
    * Scale shape: one explode + a groupBy over at most depth·256 cells —
    * map-side combinable, so each map task emits ≤ depth·256 rows no
    * matter how many values it saw.
    */
  def cmsBuild(df: DataFrame, valueCol: String, depth: Int = 4): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8] (md5 has 16 hex digit pairs), got $depth")
    df.filter(col(valueCol).isNotNull)
      .select(md5(col(valueCol).cast("string")).as("h")) // md5 once, before the explode
      .select(col("h"), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(
        col("d"),
        conv(expr("substring(h, d * 2 + 1, 2)"), 16, 10).cast("long").as("bucket"))
      .groupBy("d", "bucket")
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** A sketch's depth, read from the counter table itself: every ingested
    * value contributes to EVERY row d < depth, so max(d)+1 is exact on any
    * non-empty sketch (an empty sketch reads as depth 0). Bounded driver
    * action — the table is ≤ depth·256 rows by construction.
    */
  private def cmsDepth(cms: DataFrame): Int = {
    val r = cms.agg(max("d")).head()
    if (r.isNullAt(0)) 0 else r.getInt(0) + 1
  }

  /** Point-query the sketch for each distinct item: the estimate is the
    * MINIMUM of the item's counters across rows — ≥ the true count, with
    * equality whenever one row is collision-free for the item. Depth is
    * read FROM the sketch ([[cmsDepth]]), not passed: probing a depth-4
    * sketch as if it were depth-8 would left-join the phantom rows to
    * 0-counters and report `est_count = 0` for every item — the exact
    * inversion of the one-sided-error guarantee. Joins are item-side
    * exploded against the ≤ depth·256-row counter table, which broadcasts
    * by size; an empty sketch estimates 0 for everything.
    */
  def cmsQuery(cms: DataFrame, items: DataFrame, valueCol: String): DataFrame = {
    val depth = math.max(cmsDepth(cms), 1) // empty sketch: one all-zero row
    items
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("item"))
      .distinct()
      .select(col("item"), md5(col("item").cast("string")).as("h")) // md5 once, before the explode
      .select(col("item"), col("h"), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(
        col("item"),
        col("d"),
        conv(expr("substring(h, d * 2 + 1, 2)"), 16, 10).cast("long").as("bucket"))
      .join(cms, Seq("d", "bucket"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).cast("long").as("est_count"))
  }

  /** Merge count-min sketches by adding counters cell-wise — exactly the
    * sketch of the concatenated inputs (the linearity CMS is built on).
    * Mixed depths are refused up front: unioning a depth-2 shard into a
    * depth-4 rollup would leave rows 2..3 covering only part of the data,
    * and min-over-rows would then UNDERcount — the one failure mode CMS
    * must never have. Empty shards (depth 0) merge freely: they add
    * nothing.
    */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "cmsMerge needs at least one sketch")
    val depths = sketches.map(cmsDepth).filter(_ > 0)
    require(
      depths.distinct.size <= 1,
      s"CMS sketches with different depths do not merge: got depths ${depths.mkString(", ")}")
    sketches
      .reduce(_ unionByName _)
      .groupBy("d", "bucket")
      .agg(sum("cnt").cast("long").as("cnt"))
  }

  /** Equi-join cardinality estimate from two CMS sketches (the
    * inner-product estimator, Cormode & Muthukrishnan 2005 §4.2):
    * `|A ⋈ B on v| = Σ_v fA(v)·fB(v)`, estimated per depth row as the dot
    * product of the two 256-counter histograms and tightened by the min
    * over rows — one-sided (never undercounts, collisions only add). The
    * planning-time use: size a join from dictionary-sized sketch state
    * WITHOUT touching either table — build per shard/day via
    * [[ingestCmsBatch]], dot any two forever. Exactly portable for the
    * same reason the point estimates are: same md5-digit counters in both
    * engines. Returns one row: depth and `est_pairs`.
    *
    * Scale shape: both inputs are ≤ depth·256 rows by construction; the
    * dot is an equi-join on (d, bucket) + two tiny aggregations.
    */
  def cmsJoinEstimate(a: DataFrame, b: DataFrame): DataFrame = {
    // materialize both (≤ depth·256-row) counter tables ONCE: the depth
    // read and the dot join both consume them, and an unmaterialized
    // cmsBuild plan would re-scan its raw input per consumer (the
    // multi-consumer recompute rule)
    val am = a.select(col("d"), col("bucket"), col("cnt").as("ca")).localCheckpoint()
    val bm = b.select(col("d"), col("bucket"), col("cnt").as("cb")).localCheckpoint()
    val da = cmsDepth(am.select(col("d")))
    val db = cmsDepth(bm.select(col("d")))
    require(
      da == 0 || db == 0 || da == db,
      s"CMS sketches with different depths do not compare: got $da and $db")
    // LEFT join from a's cells: a depth row whose bucket sets do not
    // intersect has a true dot of ZERO — which proves the join is empty —
    // and must reach the min, not vanish from it; a missing b-cell
    // contributes 0 via the coalesce
    am.join(bm, Seq("d", "bucket"), "left")
      .groupBy("d")
      .agg(sum(col("ca") * coalesce(col("cb"), lit(0L))).cast("long").as("dot"))
      .agg(
        count(lit(1)).cast("long").as("n_depths"),
        coalesce(min("dot"), lit(0L)).cast("long").as("est_pairs"))
  }

  /** Batch contract of the streaming CMS face
    * ([[graft.streaming.SketchIngest.cmsIngest]]) — the
    * [[ingestKmvBatch]] store-lifecycle recipe applied to the count-min
    * sketch: batch 0 (or a missing store) CLAIMS the root (stale batches
    * deleted, `depth` pinned in `params`); later batches fail fast on a
    * depth mismatch (mixed-depth sketches must never merge — min-over-rows
    * would undercount, [[cmsMerge]]). Each batch lands its own
    * ≤ depth·256-row counter table under `sketch/batch_id=N`, so a
    * checkpoint-retried batch overwrites itself — exactly-once without a
    * transaction log. Raw values are never re-read: by CMS linearity the
    * summed batch counters ARE the whole-stream sketch.
    */
  def ingestCmsBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      valueCol: String,
      depth: Int = 4): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    StoreLifecycle.claim(
      spark,
      path,
      "sketch",
      batchId,
      () => Seq(depth).toDF("depth").coalesce(1).write.mode("overwrite").parquet(s"$path/params"),
      () => {
        val d0 = spark.read.parquet(s"$path/params").head.getInt(0)
        require(d0 == depth, s"CMS store at $path was built with depth=$d0, got depth=$depth")
      })
    cmsBuild(batch, valueCol, depth)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/sketch/batch_id=$batchId")
  }

  /** Point-estimate `items` against every landed batch sketch rolled up by
    * counter addition ([[cmsMerge]]'s linearity, inlined as one
    * groupBy-sum over the ≤ |batches|·depth·256 sketch rows). Equal to
    * querying the one-pass whole-stream sketch — the hash-equality the
    * oracle query checks.
    */
  def readCmsEstimate(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      items: DataFrame,
      valueCol: String): DataFrame = {
    require(
      Similarity.storeExists(spark, s"$path/params"),
      s"no CMS store at $path — ingest at least one batch first")
    val merged = spark.read
      .parquet(s"$path/sketch")
      .groupBy("d", "bucket")
      .agg(sum("cnt").cast("long").as("cnt"))
    cmsQuery(merged, items, valueCol)
  }

  /** Batch contract of the streaming KMV face
    * ([[graft.streaming.SketchIngest.kmvIngest]]), the store-lifecycle
    * recipe shared with `ingestLshBatch`/`ingestGramBatch`: batch 0 (or a
    * missing store) CLAIMS the root — stale sketch batches from a previous
    * run are deleted and the store's `k` is pinned in `params`; later
    * batches fail fast on a k mismatch (sketches with different k do not
    * merge). Each batch lands its own sketch under
    * `sketch/batch_id=N` (≤ k·|groups| rows), so a checkpoint-retried
    * batch overwrites itself — exactly-once without a transaction log.
    * Raw values are never re-read: the rolled-up estimate comes from
    * [[readKmvEstimate]]'s union + re-trim over the (tiny) batch sketches.
    */
  def ingestKmvBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      groupCol: String,
      valueCol: String,
      k: Int = 64): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // Claim BEFORE the empty-batch check — see StoreLifecycle for why.
    StoreLifecycle.claim(
      spark,
      path,
      "sketch",
      batchId,
      () => Seq(k).toDF("k").coalesce(1).write.mode("overwrite").parquet(s"$path/params"),
      () => {
        val k0 = spark.read.parquet(s"$path/params").head.getInt(0)
        require(k0 == k, s"KMV store at $path was built with k=$k0, got k=$k")
      })
    // an empty batch lands an empty (schema-complete) sketch: retries stay
    // idempotent and the rollup read never trips on a missing directory
    kmvSketch(batch, groupCol, valueCol, k)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/sketch/batch_id=$batchId")
  }

  /** Roll up every landed batch sketch into the live estimate: union +
    * re-trim ([[kmvMerge]]) then [[kmvEstimate]]. By the mergeability law
    * this equals sketching all ingested batches' raw input in one pass —
    * the oracle query checks exactly that hash-equality.
    */
  def readKmvEstimate(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      groupCol: String,
      k: Int = 64): DataFrame = {
    require(
      Similarity.storeExists(spark, s"$path/params"),
      s"no KMV store at $path — ingest at least one batch first")
    kmvEstimate(
      kmvMerge(Seq(spark.read.parquet(s"$path/sketch").select("grp", "h")), k),
      groupCol,
      k)
  }

  /** Deterministic HyperLogLog sketch: per (group, register) the max
    * leading-zero rank — the classic fixed-state distinct counter
    * (Flajolet et al. 2007), here built from md5 so the registers are
    * engine-portable and the DuckDB oracle rebuilds them bit-for-bit
    * (the [[kmvSketch]] discipline applied to HLL; Spark's own
    * `approx_count_distinct` HLL++ keeps its registers engine-private).
    * 256 registers (b = 8): bucket = the digest's first byte, rank ρ =
    * leading zeros + 1 in the next 32 bits (33 when all zero). State is
    * ≤ 256 rows per group REGARDLESS of input — smaller than KMV's k
    * values for string keys and mergeable by pointwise MAX ([[hllMerge]],
    * the max-linearity law), where KMV re-trims a value sample. Trade:
    * KMV is exact below k and supports set overlap; HLL has fixed ~2%
    * error at any cardinality and merges cheaper. Ship both, pick per
    * question.
    *
    * Scale shape: one map-side-combinable MAX aggregate on (group,
    * bucket) — a task emits ≤ 256 rows per group however many values it
    * saw.
    */
  def hllSketch(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    hllRegisters(
      df.select(col(groupCol).as("grp"), col(valueCol).as("__v")),
      Seq("grp"))

  /** The oracle-pinned register chain shared by [[hllSketch]] (keyed by
    * group) and [[hllSlidingEstimate]] (keyed by group × period): first
    * byte = bucket; next 32 bits via base-16 conv (exact: < 2^32); rank
    * from bin()'s leading-zero-free length, 33 when the chunk is 0. The
    * digest is projected ONCE (multiply-referenced non-cheap producer —
    * the repo's materialize-the-array discipline). Input carries the
    * value pre-projected as `__v`.
    */
  private def hllRegisters(keyed: DataFrame, keyCols: Seq[String]): DataFrame =
    keyed
      .filter(col("__v").isNotNull)
      .select(keyCols.map(col) :+ md5(col("__v").cast("string")).as("h"): _*)
      .select(
        keyCols.map(col) :+
          expr("CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT)").as("bucket") :+
          expr("CAST(conv(substring(h, 3, 8), 16, 10) AS BIGINT)").as("chunk"): _*)
      .withColumn(
        "rho",
        when(col("chunk") === 0L, lit(33L)).otherwise(lit(33L) - length(bin(col("chunk")))))
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(max("rho").cast("long").as("rho_max"))

  /** Merge HLL sketches by pointwise register MAX — exactly equal to
    * sketching the unioned raw input (max is idempotent, commutative,
    * associative), the law the oracle pins.
    */
  def hllMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "hllMerge needs at least one sketch")
    sketches
      .map(_.select("grp", "bucket", "rho_max"))
      .reduce(_ unionByName _)
      .groupBy("grp", "bucket")
      .agg(max("rho_max").cast("long").as("rho_max"))
  }

  /** Distinct-count estimates from an HLL sketch. The register sum is
    * kept EXACT: `sum_scaled` = Σ 2^(33−ρ_j) over all 256 registers
    * (empty ones contribute 2^33) — an integer ≤ 256·2^33, so the only
    * float arithmetic is the final constant multiply/divide of
    * `est_raw = α₂₅₆·256²·2^33 / sum_scaled` and the small-range
    * linear-counting `est_small = 256·ln(256/zeros)` (null once every
    * register is hit), each rounded to 4 decimals — deterministic across
    * engines because everything upstream of one float op is integer.
    * The standard small-range rule (est_raw ≤ 640 = 2.5·m and zeros > 0
    * → linear counting) is applied IN-PLAN as the selected `est` column
    * so every consumer reads ONE estimate instead of re-deriving the
    * branch; the raws stay for audit. The guard branches on the already
    * 4-decimal-rounded `est_raw` — deterministic across engines because
    * that column itself is oracle-hash-pinned.
    */
  def hllEstimate(sketch: DataFrame, groupCol: String): DataFrame =
    registersToEstimate(sketch, Seq("grp"), "rho_max").withColumnRenamed("grp", groupCol)

  /** The register → estimate math shared by [[hllEstimate]] and
    * [[hllSlidingEstimate]], grouped by arbitrary key columns.
    */
  private def registersToEstimate(
      sketch: DataFrame,
      keyCols: Seq[String],
      rhoCol: String): DataFrame =
    sketch
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).cast("long").as("n_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(33 - $rhoCol AS INT))"))
          .cast("long").as("hit_scaled"))
      .select(
        keyCols.map(col) :+
          (lit(256L) - col("n_hit")).as("n_zero") :+
          (col("hit_scaled") + (lit(256L) - col("n_hit")) * lit(8589934592L))
            .as("sum_scaled"): _*)
      .withColumn(
        "est_raw",
        round(
          lit(0.7213 / (1.0 + 1.079 / 256.0)) * lit(65536.0) * lit(8589934592.0) /
            col("sum_scaled").cast("double"),
          4))
      .withColumn(
        "est_small",
        when(
          col("n_zero") > 0,
          round(lit(256.0) * log(lit(256.0) / col("n_zero").cast("double")), 4)))
      .withColumn(
        "est",
        when(col("est_raw") <= 640.0 && col("n_zero") > 0, col("est_small"))
          .otherwise(col("est_raw")))

  /** Sliding-window distinct estimate — "distinct users per type over the
    * trailing `window` days, every day" — from PER-PERIOD HLL registers
    * merged by the max law over a RANGE frame: because registers merge by
    * pointwise MAX (the [[hllMerge]] law), a w-day distinct needs no
    * re-scan of raw data, just max over w period-registers — the
    * composition that makes sliding distinct counts affordable at 100 TB
    * (an exact sliding countDistinct re-deduplicates every window).
    * Output one row per (group, period) with the [[hllEstimate]] columns.
    *
    * Mechanics: per-period registers land like [[hllSketch]] keyed by
    * (group, period, bucket); each group's observed buckets are GRIDDED
    * across its periods before the window (a bucket silent in period p
    * must still contribute its earlier rank to p's trailing window —
    * a row-frame over present-only rows would drop it), and the frame is
    * `RANGE BETWEEN window-1 PRECEDING AND CURRENT ROW` on the period
    * value, so calendar gaps age out correctly without gap-filling.
    *
    * Scale shape: the register table is ≤ |groups|·|periods|·256 rows —
    * bounded by the dashboard's own grain, never by events; the window
    * partitions by (group, bucket) over period rows.
    */
  def hllSlidingEstimate(
      df: DataFrame,
      groupCol: String,
      periodCol: String,
      valueCol: String,
      window: Int = 7): DataFrame = {
    require(window >= 1 && window <= 10000, s"window must be in [1, 10000], got $window")
    val reg = hllRegisters(
      df.filter(col(groupCol).isNotNull && col(periodCol).isNotNull)
        .select(
          col(groupCol).as("grp"),
          col(periodCol).cast("long").as("p"),
          col(valueCol).as("__v")),
      Seq("grp", "p"))
      .localCheckpoint() // grid (periods × buckets) + the merge join
    val grid = reg
      .select("grp", "p").distinct()
      .join(reg.select("grp", "bucket").distinct(), Seq("grp"))
    val w = Window
      .partitionBy("grp", "bucket")
      .orderBy("p")
      .rangeBetween(-(window - 1).toLong, 0L)
    val merged = grid
      .join(reg, Seq("grp", "p", "bucket"), "left")
      .withColumn("rho_w", max("rho_max").over(w))
      .filter(col("rho_w").isNotNull)
    registersToEstimate(merged, Seq("grp", "p"), "rho_w")
      .withColumnRenamed("grp", groupCol)
      .withColumnRenamed("p", "period")
  }

  /** Streaming maintenance round for the HLL store — the
    * [[ingestKmvBatch]] lifecycle applied to registers: batch 0 (or a
    * missing store) claims the root, each batch lands its own
    * ≤ 256·|groups|-row register table under `sketch/batch_id=N`
    * (checkpoint retries overwrite themselves), and the live estimate is
    * [[readHllEstimate]]'s pointwise-MAX rollup — by max-linearity
    * exactly the one-pass whole-stream sketch, the law the oracle pins.
    */
  def ingestHllBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      groupCol: String,
      valueCol: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // Claim BEFORE the empty-batch check — see StoreLifecycle for why.
    StoreLifecycle.claim(
      spark,
      path,
      "sketch",
      batchId,
      () => Seq(256).toDF("m").coalesce(1).write.mode("overwrite").parquet(s"$path/params"),
      () => {
        val m0 = spark.read.parquet(s"$path/params").head.getInt(0)
        require(m0 == 256, s"HLL store at $path was built with m=$m0, this engine sketches m=256")
      })
    hllSketch(batch, groupCol, valueCol)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/sketch/batch_id=$batchId")
  }

  /** Roll up every landed batch's registers by pointwise MAX and
    * estimate — ≡ sketching all ingested raw input in one pass.
    */
  def readHllEstimate(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      groupCol: String): DataFrame = {
    require(
      Similarity.storeExists(spark, s"$path/params"),
      s"no HLL store at $path — ingest at least one batch first")
    hllEstimate(
      hllMerge(Seq(spark.read.parquet(s"$path/sketch").select("grp", "bucket", "rho_max"))),
      groupCol)
  }

  /** Per-row percentile within a group (mid-rank, ppm) — the rank /
    * quantile transform feature pipelines normalize with, computed
    * WITHOUT a window over raw rows: one distinct (group, value) count
    * table, a cumulative window over DISTINCT values only (≤ |distinct
    * values| rows per group — the [[quantilesByGroup]] discipline), then
    * an equi-join back onto the rows. `pct_ppm = 10⁶·(cum_lt +
    * (cnt+1)/2) / n` as the exact integral
    * `(10⁶·(2·cum_lt + cnt + 1)) div (2n)` — mid-rank, so all ties get
    * one deterministic percentile and the transform is engine-portable.
    * The numerator widens through decimal(38,0): at 10¹³ rows per group
    * the long product wraps (the [[modeFromCounts]] lesson).
    */
  def rankNormalize(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vals = df
      .filter(col(valueCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        round(col(valueCol).cast("double") * 1000, 0).cast("long").as("v"))
    val hist = vals.groupBy("grp", "v").agg(count(lit(1)).cast("long").as("cnt"))
    // the group total rides the same partitioning as the cumulative sum
    // (unbounded partition window) — a separate groupBy + join would
    // re-aggregate the corpus per consumer and join raw rows twice
    val cum = hist
      .withColumn("cum_lt", sum("cnt").over(Window.partitionBy("grp").orderBy("v")) - col("cnt"))
      .withColumn("n", sum("cnt").over(Window.partitionBy("grp")).cast("long"))
    vals
      .join(cum, Seq("grp", "v"))
      .select(
        col("grp").as(groupCol),
        col("v").as("value_milli"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (2 * cum_lt + cnt + 1)) div (2 * n) AS BIGINT)")
          .as("pct_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov distance per group, integer-exact:
    * `d_ppm = max over observed values of |CDF_a − CDF_b|` with the CDFs
    * compared by cross-multiplication — `|cum_a·n_b − cum_b·n_a|` in
    * decimal(38,0) (n_a·n_b wraps a long at ~3e9 rows per side), scaled
    * to ppm only at the end — so the drift score is engine-portable,
    * unlike any float-CDF KS. The distribution-drift monitor between a
    * reference corpus and a new crawl, yesterday and today, or error and
    * non-error populations: KS needs no binning choice (it IS the sup
    * over the empirical CDFs) and no transcendental ops (the PSI/KL
    * alternatives need log). Groups must appear in BOTH sides (inner
    * join) — a one-sided group has no two-sample statistic.
    *
    * Scale shape: each side compacts to distinct (group, value) counts
    * first (map-side combinable); the step function is a cumulative
    * window over DISTINCT values only; the sup is one max per group.
    * Raw rows are never windowed or joined.
    */
  def ksDrift(
      a: DataFrame,
      b: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    def hist(df: DataFrame, cntName: String) =
      df.filter(col(valueCol).isNotNull)
        .select(
          col(groupCol).as("grp"),
          round(col(valueCol).cast("double") * 1000, 0).cast("long").as("v"))
        .groupBy("grp", "v")
        .agg(count(lit(1)).cast("long").as(cntName))
    val merged = hist(a, "ca")
      .join(hist(b, "cb"), Seq("grp", "v"), "full_outer")
      .select(
        col("grp"),
        col("v"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // totals ride the SAME partitioning as the cumulative sums (unbounded
    // partition window) — deriving them with a second groupBy + join
    // would re-execute both histograms and the full-outer join per
    // consumer. Null groups are filtered up front to keep the old
    // join-on-grp semantics (a window would let them through).
    val cum = merged
      .filter(col("grp").isNotNull)
      .withColumn("cum_a", sum("ca").over(Window.partitionBy("grp").orderBy("v")))
      .withColumn("cum_b", sum("cb").over(Window.partitionBy("grp").orderBy("v")))
      .withColumn("n_a", sum("ca").over(Window.partitionBy("grp")).cast("long"))
      .withColumn("n_b", sum("cb").over(Window.partitionBy("grp")).cast("long"))
    cum
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn(
        "diff",
        expr("abs(CAST(cum_a AS DECIMAL(38,0)) * n_b - CAST(cum_b AS DECIMAL(38,0)) * n_a)"))
      .groupBy("grp", "n_a", "n_b")
      .agg(max("diff").as("dmax"))
      .select(
        col("grp").as(groupCol),
        col("n_a"),
        col("n_b"),
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * dmax) div " +
            "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("d_ppm"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns — the
    * feature-redundancy screen run before training ("these two features
    * are the same signal"): every column pair's r in ONE aggregation
    * pass (map-side-combinable conditional sums; a pair's sums count
    * only rows where BOTH sides are non-null, per-pair). All moment
    * sums are EXACT decimal(38,0) over milli-scaled values — the only
    * float ops are the final correctly-rounded decimal→double
    * conversions and one sqrt/divide, the [[hllEstimate]] est_raw
    * discipline — so `corr_r` (rounded 6) is engine-portable. A
    * zero-variance side yields null r (no correlation is defined), not
    * NaN.
    *
    * Scale shape: one scan, 6·C(|cols|,2) aggregate cells, output
    * C(|cols|,2) rows — nothing else moves; profile wide tables in
    * column subsets like [[graft.ops.Checks.profile]].
    */
  def corrMatrixMilli(df: DataFrame, cols: Seq[String]): DataFrame =
    corrMatrixMilliImpl(df, cols, knownBounds = None)

  /** The moment kernel behind [[corrMatrixMilli]] / [[spearmanMatrixMilli]],
    * with a SCALE-ADAPTIVE arithmetic choice (the localEdgeCutoff
    * discipline applied to expression types): the exact integer moments
    * can be computed two ways —
    *
    *  - the DECIMAL kernel (always correct): every multiply and sum in
    *    decimal(38,0) — never wraps, but each per-row op is a Decimal
    *    object op (measured 2.8 s warm for the 600k-row 4-column matrix);
    *  - the LONG kernel: per-row products as native long multiplies, each
    *    square/cross moment accumulated as TWO long sums (hi = p div 2³¹,
    *    lo = p % 2³¹ — `p = hi·2³¹ + lo` holds exactly per row under
    *    truncating div/rem, so `Σp = 2³¹·Σhi + Σlo` reconstructs the
    *    exact decimal moment on the 1-row result; measured 0.3 s warm,
    *    ~10x) — legal ONLY when proven not to wrap.
    *
    * The proof is a driver-side BigInt check over (n, max|value|): per-row
    * products, linear sums, and both partial sums must fit within 2⁶² (a
    * whole bit of slack). The bounds come from `knownBounds` when the
    * caller has them analytically (Spearman: ranks ≤ 2n+1), else from one
    * cheap pre-pass of native long min/max/count over the input — a
    * second scan, priced: ~0.25 s against the ~2.5 s the long kernel
    * saves at sf0.1, and the input here is a plain projection, never a
    * join tree. Both kernels produce identical integers, so the choice
    * can never change results — inputs too large for the proof simply
    * keep the decimal kernel.
    */
  private[graft] def corrMatrixMilliImpl(
      df: DataFrame,
      cols: Seq[String],
      knownBounds: Option[(Long, Long)]): DataFrame = {
    require(cols.size >= 2, s"correlation needs at least two columns, got ${cols.size}")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"corrMatrixMilli: columns not in schema: ${missing.mkString(", ")}")
    // names are interpolated into SQL below (the stack literals and the
    // decimal casts): validate against a safe-identifier pattern at
    // entry so a quoted/spaced name fails HERE with a clear message, not
    // deep in the parser — rename via select(...as...) before calling
    val unsafe = cols.filterNot(_.matches("[A-Za-z_][A-Za-z0-9_]*"))
    require(
      unsafe.isEmpty,
      s"corrMatrixMilli: column names must match [A-Za-z_][A-Za-z0-9_]* " +
        s"(interpolated into SQL; alias first): ${unsafe.mkString(", ")}")
    val milli = df.select(cols.map(c =>
      round(col(c).cast("double") * 1000, 0).cast("long").as(c)): _*)
    val pairs = for {
      i <- cols.indices
      j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    // (rows, max |value| over all listed columns) — analytic when the
    // caller knows them, else one native-long pre-pass (bounded decision
    // read: 1 row). max|x| via BigInt over (min, max) so Long.MinValue
    // cannot wrap an abs().
    val (nRows, maxAbs) = knownBounds.getOrElse {
      val aggs = Seq(count(lit(1)).as("__n")) ++
        cols.flatMap(c => Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
      val r = milli.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getAs[Long]("__n")
      val m = cols.flatMap { c =>
        Seq(Option(r.getAs[java.lang.Long](s"__mn_$c")), Option(r.getAs[java.lang.Long](s"__mx_$c")))
      }.flatten.map(v => BigInt(v.longValue()).abs).foldLeft(BigInt(0))(_ max _)
      (n, if (m.isValidLong) m.toLong else Long.MaxValue)
    }
    val slack = BigInt(1) << 62
    val mA = BigInt(maxAbs)
    val nB = BigInt(nRows)
    val shift = 1L << 31
    val longSafe =
      maxAbs < Long.MaxValue &&
        mA * mA <= slack && // per-row product
        nB * mA <= slack && // linear long sums
        nB * BigInt(shift) <= slack && // lo partial sums
        nB * (mA * mA / BigInt(shift) + 1) <= slack // hi partial sums
    val aggs =
      if (longSafe)
        pairs.zipWithIndex.flatMap { case ((a, b), k) =>
          val both = col(a).isNotNull && col(b).isNotNull
          def s(e: String, name: String) =
            sum(when(both, expr(e)).otherwise(lit(null))).as(s"${name}_$k")
          Seq(
            count(when(both, lit(1))).cast("long").as(s"n_$k"),
            s(a, "sx"),
            s(b, "sy"),
            s(s"($a * $a) div $shift", "sxxhi"),
            s(s"($a * $a) % $shift", "sxxlo"),
            s(s"($b * $b) div $shift", "syyhi"),
            s(s"($b * $b) % $shift", "syylo"),
            s(s"($a * $b) div $shift", "sxyhi"),
            s(s"($a * $b) % $shift", "sxylo"))
        }
      else
        pairs.zipWithIndex.flatMap { case ((a, b), k) =>
          val both = col(a).isNotNull && col(b).isNotNull
          def s(e: Column, name: String) =
            sum(when(both, e).otherwise(lit(null))).cast("decimal(38,0)").as(s"${name}_$k")
          Seq(
            count(when(both, lit(1))).cast("long").as(s"n_$k"),
            // linear sums cast to decimal BEFORE the sum, like the square
            // terms — a bigint sum of milli values wraps past 2^63 rows·val
            s(expr(s"CAST($a AS DECIMAL(38,0))"), "sx"),
            s(expr(s"CAST($b AS DECIMAL(38,0))"), "sy"),
            s(expr(s"CAST($a AS DECIMAL(38,0)) * $a"), "sxx"),
            s(expr(s"CAST($b AS DECIMAL(38,0)) * $b"), "syy"),
            s(expr(s"CAST($a AS DECIMAL(38,0)) * $b"), "sxy"))
        }
    // ONE stack projection over the 1-row aggregate fans it to C(n,2)
    // output rows — scan-once is structural (a single plan, no
    // multiply-referenced producer, nothing left to ReuseExchange; the
    // union-branch shape this replaced either relied on exchange reuse
    // or, checkpointed, paid ~2 s of materialization for one row).
    // Under the long kernel the per-pair moments reconstruct to the SAME
    // decimal values on this one row (hi·2³¹ + lo; linear sums cast),
    // so the corr formula below is shared verbatim.
    def moment(name: String, k: Int): String =
      if (longSafe) s"(CAST(${name}hi_$k AS DECIMAL(38,0)) * $shift + ${name}lo_$k)"
      else s"${name}_$k"
    def linear(name: String, k: Int): String =
      if (longSafe) s"CAST(${name}_$k AS DECIMAL(38,0))" else s"${name}_$k"
    val items = pairs.zipWithIndex
      .map { case ((a, b), k) =>
        val (sxx, syy, sxy) = (moment("sxx", k), moment("syy", k), moment("sxy", k))
        val (sx, sy) = (linear("sx", k), linear("sy", k))
        val corr =
          s"""CAST(round(
             |  CASE WHEN n_$k >= 2
             |        AND (n_$k * $sxx - $sx * $sx) > 0
             |        AND (n_$k * $syy - $sy * $sy) > 0
             |  THEN CAST(n_$k * $sxy - $sx * $sy AS DOUBLE) /
             |       sqrt(CAST(n_$k * $sxx - $sx * $sx AS DOUBLE) *
             |            CAST(n_$k * $syy - $sy * $sy AS DOUBLE))
             |  END, 6) AS DOUBLE)""".stripMargin
        s"'$a', '$b', n_$k, $corr"
      }
      .mkString(", ")
    milli
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${pairs.size}, $items) AS (col_a, col_b, n, corr_r)"))
  }

  /** Spearman rank-correlation matrix — [[corrMatrixMilli]]'s robust
    * twin: Pearson over midranks, so it reads MONOTONE association and
    * shrugs at outliers and any order-preserving transform (the
    * dependency monitor you want when columns are heavy-tailed).
    * Tie-exact and integer-exact: each column's DOUBLED midrank is
    * `2F + c + 1` (F = strictly-smaller count, c = tie-block size — the
    * [[mannWhitneyU]] doubling, keeping tie midranks integral), and
    * Pearson's scale invariance makes rho over doubled ranks THE
    * tie-corrected Spearman rho. Rows with a null in ANY listed column
    * drop listwise first (ranks are column-global, so pairwise deletion
    * would need a re-rank per pair — a different, quadratic statistic).
    * Decimal(38) headroom: n·(2000n)² per square sum → n up to ~10¹⁰
    * rows. Output `(col_a, col_b, n, rho_r)`, one row per pair.
    *
    * Scale shape: per column, one map-side-combinable tie-block
    * aggregate off ONE frozen scan, a DISTRIBUTED prefix scan over the
    * tie blocks ([[graft.ops.Relational.globalCumSum]]: range shuffle +
    * partition offsets — a near-unique column never lands in one
    * window partition), and an equi-join of the dr table back on the
    * value; then the [[corrMatrixMilli]] one-scan kernel. k value-keyed
    * shuffles of 1× data buy exact global ranks with no hot sort.
    */
  def spearmanMatrixMilli(df: DataFrame, cols: Seq[String]): DataFrame =
    spearmanMatrixMilli(df, cols, spearmanWindowMaxRows)

  /** Largest listwise-complete row count whose tie blocks take the
    * single-partition window cumsum in [[spearmanMatrixMilli]]; above it
    * the distributed [[graft.ops.Relational.globalCumSum]] runs.
    */
  private[graft] val spearmanWindowMaxRows: Long = 1L << 21

  /** [[spearmanMatrixMilli]] with the window cutoff as an argument, so
    * specs can drive small inputs down the distributed branch.
    */
  private[graft] def spearmanMatrixMilli(
      df: DataFrame, cols: Seq[String], windowMaxRows: Long): DataFrame = {
    require(cols.size >= 2, s"correlation needs at least two columns, got ${cols.size}")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"spearmanMatrixMilli: columns not in schema: ${missing.mkString(", ")}")
    val unsafe = cols.filterNot(_.matches("[A-Za-z_][A-Za-z0-9_]*"))
    require(
      unsafe.isEmpty,
      s"spearmanMatrixMilli: column names must match [A-Za-z_][A-Za-z0-9_]* " +
        s"(interpolated into SQL; alias first): ${unsafe.mkString(", ")}")
    // frozen once: the join spine plus every column's tie-block aggregate
    val milli = df
      .select(cols.map(c => round(col(c).cast("double") * 1000, 0).cast("long").as(c)): _*)
      .na.drop()
      .localCheckpoint()
    // one cheap job over the materialized blocks; drives BOTH
    // scale-adaptive choices below (cumsum machinery and moment
    // arithmetic)
    val n = milli.count()
    // inclusive cumsum over tie blocks: F = cum - c, dr = 2F + c + 1.
    // The tie-block table has at most n rows, so when n is provably
    // small a single-partition window computes the SAME cumulative
    // sums with zero driver round-trips — all four rank chains stay
    // lazy and fuse into the final moment plan, where the
    // [[graft.ops.Relational.globalCumSum]] path pays a range-sample
    // job, a checkpoint, and a driver offsets collect PER COLUMN,
    // serialized. Corpus-scale inputs (distinct values can approach n)
    // keep the distributed prefix scan — the single-partition sort is
    // exactly what it exists to avoid. Same integers either way; the
    // kernel-choice spec pins it.
    val smallBlocks = n <= windowMaxRows
    val ranked = cols.foldLeft(milli) { (acc, c) =>
      val blocks = milli.groupBy(col(c)).agg(count(lit(1)).cast("long").as("__c"))
      val dr = (if (smallBlocks) {
        val w = Window.orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        blocks.withColumn("__cum", sum(col("__c")).over(w))
      } else
        Relational.globalCumSum(blocks, Seq(col(c)), "__c", cumCol = "__cum"))
        .select(col(c), (lit(2L) * col("__cum") - col("__c") + 1L).as(s"__dr_$c"))
      acc.join(dr, Seq(c))
    }
    // the moment kernel's bounds are ANALYTIC here — doubled midranks sit
    // in [1, 2n] (dr = 2F + c + 1 with F + c <= n), and the kernel's
    // milli-scaling multiplies them by 1000 — so the long-kernel proof
    // needs no pre-pass over the rank-join tree; saturate instead of
    // wrapping for absurd n, which simply keeps the decimal kernel
    val maxRank = if (n > (Long.MaxValue - 2000L) / 2002L) Long.MaxValue else 2002L * n + 2000L
    corrMatrixMilliImpl(
      ranked.select(cols.map(c => col(s"__dr_$c").as(c)): _*),
      cols,
      knownBounds = Some((n, maxRank)))
      .withColumnRenamed("corr_r", "rho_r")
  }

  /** Per-group AUTOCORRELATION function (integer-exact moments) — the
    * seasonality detector run before picking [[graft.ops.Anomaly
    * .seasonalDecompose]]'s season length: lag-k Pearson r of a
    * pre-aggregated series against itself, for k = 1..maxLag, so a daily
    * cycle reads as a spike at the 24-hour lag. Input is one row per
    * (group, consecutive period) — the [[graft.ops.Rollup
    * .periodOverPeriod]] contract: lags are by POSITION in the ordered
    * series, so feed gap-filled periods when calendar gaps exist. Same
    * exactness discipline as [[corrMatrixMilli]]: milli-scaled values,
    * all moment sums in decimal(38,0) (cast BEFORE the sum), one
    * correctly-rounded double conversion + sqrt/divide per (group, lag);
    * zero-variance windows yield null `acf_r`, and a lag with fewer than
    * 2 aligned pairs reports no row at all (nothing to correlate).
    *
    * Scale shape: ONE window pass adds all maxLag lag columns (a single
    * Window node, series-grain rows), an in-plan `stack` unpivots to
    * (group, lag) pairs, and one map-side-combinable aggregate computes
    * every moment — the raw fact table never enters.
    */
  def autocorrMilli(
      counted: DataFrame,
      groupCol: String,
      periodCol: String,
      valCol: String,
      maxLag: Int = 24): DataFrame = {
    require(maxLag >= 1 && maxLag <= 1000, s"maxLag must be in [1, 1000], got $maxLag")
    val w = Window.partitionBy("grp").orderBy("p")
    val base = counted
      .filter(col(groupCol).isNotNull && col(periodCol).isNotNull && col(valCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        col(periodCol).cast("long").as("p"),
        round(col(valCol).cast("double") * 1000, 0).cast("long").as("x"))
    val lagged = (1 to maxLag).foldLeft(base) { (df, k) =>
      df.withColumn(s"__l$k", lag("x", k).over(w))
    }
    val pairs = lagged
      .select(
        col("grp"),
        col("x"),
        expr(s"stack($maxLag, ${(1 to maxLag).map(k => s"${k}L, __l$k").mkString(", ")}) " +
          "AS (lag, y)"))
      .filter(col("y").isNotNull)
    pairs
      .groupBy("grp", "lag")
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .filter(col("n") >= 2)
      .select(
        col("grp").as(groupCol),
        col("lag"),
        col("n"),
        expr(
          """CAST(round(
            |  CASE WHEN (n * sxx - sx * sx) > 0
            |        AND (n * syy - sy * sy) > 0
            |  THEN CAST(n * sxy - sx * sy AS DOUBLE) /
            |       sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
            |            CAST(n * syy - sy * sy AS DOUBLE))
            |  END, 6) AS DOUBLE)""".stripMargin)
          .as("acf_r"))
  }

  /** Mann–Kendall trend test per group — "is this series monotonically
    * drifting?", the NONPARAMETRIC trend monitor (Mann 1945, Kendall
    * 1975): `S = Σ_{i<j} sgn(x_j − x_i)` over the time-ordered series,
    * robust to outliers and any monotone transform — the right default
    * for volume/quality drift where [[linearTrend]]'s least-squares
    * slope chases spikes. Everything is EXACT integer: values land as
    * milli longs, `S` is an integer sum of signs, the tie-corrected
    * 18-scaled variance `var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)` stays
    * integral (t = tie-block sizes), and the continuity-corrected
    * squared z-score ships as `z2_milli = 18000·(|S|−1)² div var18`
    * (monotone in |z|, so thresholding it IS thresholding z: the 5%
    * two-sided cut z² > 3.8415 becomes `z2_milli > 3841`, baked into
    * `significant`; trunc-div makes the realized cut z² ≥ 3.842 — a
    * ~0.0005-wide conservative band, mirrored identically by the
    * oracle, see [[twoProportionTest]]). z2 is null when var18 ≤ 0
    * (constant series or
    * n < 2) — "not testable" is not "flat". Duplicate rows per
    * (group, period) are summed first: the series grain is one value
    * per period, and summing is the one aggregation a count/volume
    * series means by default (pass a pre-aggregated frame for anything
    * else).
    *
    * Scale shape: one (group, period) aggregate, then the pair
    * self-join equi-keyed on group with `t_i < t_j` — quadratic in the
    * SERIES length, never the raw rows; series are calendar-bounded
    * (the [[autocorrMilli]] grain contract: hundreds of periods →
    * ~10⁴-10⁵ pair rows per group), ties/count ride two more tiny
    * aggregates off the same checkpointed series.
    */
  /** Shared per-(group, period) series reduction of the trend family
    * ([[mannKendall]], [[theilSenSlope]]): milli values, duplicate rows
    * per period SUMMED (the count/volume-series default — pass a
    * pre-aggregated frame for anything else), checkpointed because every
    * consumer reads it at least twice (pair join both sides + counts).
    */
  private def trendSeries(
      df: DataFrame,
      groupCol: String,
      periodCol: String,
      valueCol: String): DataFrame =
    df.filter(col(groupCol).isNotNull && col(periodCol).isNotNull && col(valueCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        col(periodCol).cast("long").as("t"),
        round(col(valueCol).cast("double") * 1000, 0).cast("long").as("x"))
      .groupBy("grp", "t")
      .agg(sum(col("x")).as("x"))
      .localCheckpoint()

  def mannKendall(
      df: DataFrame,
      groupCol: String,
      periodCol: String,
      valueCol: String): DataFrame = {
    val series = trendSeries(df, groupCol, periodCol, valueCol)
    val s = series.as("l")
      .join(series.as("r"), col("l.grp") === col("r.grp") && col("l.t") < col("r.t"))
      .groupBy(col("l.grp").as("grp"))
      .agg(
        sum(
          when(col("r.x") > col("l.x"), 1L)
            .when(col("r.x") < col("l.x"), -1L)
            .otherwise(0L)).cast("long").as("s"))
    val ties = series
      .groupBy("grp", "x")
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy("grp")
      .agg(sum(expr("c * (c - 1) * (2 * c + 5)")).cast("long").as("tsum"))
    val n = series.groupBy("grp").agg(count(lit(1)).cast("long").as("n"))
    n.join(ties, Seq("grp"))
      .join(s, Seq("grp"), "left")
      .withColumn("__s", coalesce(col("s"), lit(0L)))
      .withColumn("__var18", expr("n * (n - 1) * (2 * n + 5) - tsum"))
      .select(
        col("grp").as(groupCol),
        col("n"),
        col("__s").as("s"),
        col("__var18").as("var18"),
        expr(
          """CAST(CASE WHEN __var18 > 0 THEN
            |  (18000 * greatest(abs(__s) - 1, 0) * greatest(abs(__s) - 1, 0)) div __var18
            |END AS BIGINT)""".stripMargin).as("z2_milli"),
        expr("CASE WHEN __s > 0 THEN 'up' WHEN __s < 0 THEN 'down' ELSE 'flat' END")
          .as("trend"))
      // derived from the ONE z2 computation (null z2 -> null verdict),
      // so the statistic and its cut can never diverge
      .withColumn("significant", col("z2_milli") > 3841L)
  }

  /** Theil–Sen slope per group — the robust trend MAGNITUDE beside
    * [[mannKendall]]'s direction/significance: the median of all
    * pairwise slopes `(x_j − x_i)/(t_j − t_i)`, up to 29% outliers
    * before it budges (Sen 1968), where [[linearTrend]]'s least squares
    * chases a single spike. Exact integers: per-pair
    * `sl = (1000·Δx_milli) div Δt` — micro RAW-value units per period (trunc toward zero, engine-portable),
    * and the DOUBLED median `med2_slope_micro = sl_⌈n/2⌉ + sl_⌈(n+1)/2⌉`
    * (the [[mannWhitneyU]] doubling — an even pair count averages two
    * middles, doubling keeps it integral; halve for the textbook
    * value). Same series contract as [[mannKendall]] (one value per
    * (group, period), duplicates summed); groups with a single period
    * report n_pairs 0 and a null slope. Long headroom: |Δvalue| must stay under ~9·10¹².
    *
    * Scale shape: the [[mannKendall]] pair join (quadratic in the
    * calendar-bounded SERIES, never raw rows), then the median selection
    * rides [[graft.ops.Relational.globalRank]] over (grp, slope) — a
    * range shuffle + driver prefix of |partitions| offsets, with
    * in-group rank = global rank − the group's first rank (one
    * |groups|-row aggregate + equi-join back). NO `Window.partitionBy
    * (grp)` anywhere: the pair grain is O(series²) rows per group, and a
    * per-group window would sort a 10³-period series' 5·10⁵ pairs in
    * ONE partition — exactly the near-unique-window hot sort
    * `globalRank` exists to avoid (SCALE.md's rule; the r14 verdict's
    * ask 6). Ranks at tied slopes depend on placement, but the VALUES
    * selected at the median positions are multiset-determined, so
    * `med2` is deterministic regardless.
    */
  def theilSenSlope(
      df: DataFrame,
      groupCol: String,
      periodCol: String,
      valueCol: String): DataFrame = {
    val series = trendSeries(df, groupCol, periodCol, valueCol)
    val slopes = series.as("l")
      .join(series.as("r"), col("l.grp") === col("r.grp") && col("l.t") < col("r.t"))
      .select(
        col("l.grp").as("grp"),
        ((col("r.x") - col("l.x")) * lit(1000L)).as("__num"),
        (col("r.t") - col("l.t")).as("__den"))
      .select(col("grp"), expr("__num div __den").as("sl"))
    val cnt = slopes.groupBy("grp").agg(count(lit(1)).cast("long").as("n_pairs"))
    val granked = graft.ops.Relational.globalRank(slopes, Seq(col("grp"), col("sl")), "__gr")
    val firsts = granked.groupBy("grp").agg(min(col("__gr")).as("__first"))
    val ranked = granked
      .join(firsts, Seq("grp"))
      .withColumn("rn", col("__gr") - col("__first") + lit(1L))
      .join(cnt, Seq("grp"))
      // lo == hi for odd counts: the two conditional sums below each pick
      // the middle once, so the doubled median still counts it twice
      .withColumn("__lo", expr("(n_pairs + 1) div 2"))
      .withColumn("__hi", expr("(n_pairs + 2) div 2"))
      .groupBy("grp")
      .agg(
        max(col("n_pairs")).as("n_pairs"),
        (sum(when(col("rn") === col("__lo"), col("sl"))) +
          sum(when(col("rn") === col("__hi"), col("sl")))).cast("long").as("med2_slope_micro"))
    series
      .groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n"))
      .join(ranked, Seq("grp"), "left")
      .select(
        col("grp").as(groupCol),
        col("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("med2_slope_micro"))
  }

  /** Poisson bootstrap confidence interval per group — THE resampling
    * scheme that works distributed (Chamandy et al., Google 2012;
    * classic bootstrap needs n draws WITH replacement from n rows — a
    * global operation — while Poisson(1) weights per (row, replicate)
    * are embarrassingly row-local and match it asymptotically). Fully
    * deterministic and engine-portable: replicate r of row id draws
    * `u = fold8(md5(boot:id:r)) mod 10⁶` and inverts the Poisson(1) CDF
    * through nine driver-literal ppm thresholds (exact to the printed
    * digit, no engine RNG or exp() anywhere), so the same CI comes back
    * on every run, engine, and cluster size. Replicate means are exact
    * trunc-div milli over decimal(38,0) weighted sums; the 95% interval
    * is the percentile pick `lo = (m·25) div 1000 + 1`-th /
    * `hi = m − lo + 1`-th smallest of the m non-degenerate replicate
    * means (a replicate whose weights all land 0 is dropped, not read
    * as mean 0). Output:
    * `(group, n, mean_milli, n_reps, ci_lo_milli, ci_hi_milli)`.
    *
    * Scale shape: the explode is the honest bootstrap price — |rows|·reps
    * probe rows, immediately map-side-combined into ≤ |groups|·reps
    * aggregate rows; the CI selection is ONE window over that
    * reps-bounded grain. reps scales the shuffle linearly; 30–50 is the
    * usual sweet spot.
    */
  def poissonBootstrap(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      reps: Int = 40): DataFrame = {
    require(reps >= 8 && reps <= 1000, s"reps must be in [8, 1000], got $reps")
    // cumulative Poisson(1) ppm: P(X <= k), k = 0..8 (tail above 9 is
    // < 1.1e-7 — below the ppm grid)
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L, 999990L,
      999999L)
    val fold = graft.ops.Relational.md5Fold8Sql("__h")
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        col(idCol).cast("string").as("id"),
        round(col(valueCol).cast("double") * 1000, 0).cast("long").as("x"))
      .localCheckpoint() // consumers: the point estimate and the explode
    val repMeans = base
      .withColumn("r", explode(array((1 to reps).map(lit): _*)))
      .withColumn("__h", md5(concat(lit("boot:"), col("id"), lit(":"), col("r").cast("string"))))
      .withColumn("__u", expr(s"($fold) % 1000000L"))
      .withColumn("w", cdf.map(t => (col("__u") >= t).cast("long")).reduce(_ + _))
      .groupBy("grp", "r")
      .agg(
        sum(expr("CAST(w AS DECIMAL(38,0)) * x")).as("mw"),
        sum(col("w")).cast("long").as("ww"))
      .filter(col("ww") > 0)
      .select(col("grp"), col("r"), expr("CAST(mw div ww AS BIGINT)").as("m"))
    val ci = repMeans
      .withColumn(
        "rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("grp")
            .orderBy(col("m"), col("r"))))
      .join(repMeans.groupBy("grp").agg(count(lit(1)).cast("long").as("n_reps")), Seq("grp"))
      .withColumn("__lo", expr("(n_reps * 25) div 1000 + 1"))
      .withColumn("__hi", expr("n_reps - (n_reps * 25) div 1000"))
      .groupBy("grp")
      .agg(
        max(col("n_reps")).as("n_reps"),
        min(when(col("rn") === col("__lo"), col("m"))).as("ci_lo_milli"),
        min(when(col("rn") === col("__hi"), col("m"))).as("ci_hi_milli"))
    base
      .groupBy("grp")
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("__sx"))
      .withColumn("mean_milli", expr("CAST(__sx div n AS BIGINT)"))
      .join(ci, Seq("grp"), "left")
      .select(
        col("grp").as(groupCol),
        col("n"),
        col("mean_milli"),
        coalesce(col("n_reps"), lit(0L)).as("n_reps"),
        col("ci_lo_milli"),
        col("ci_hi_milli"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013) —
    * the experimentation workhorse: adjust each variant's metric by a
    * pre-experiment covariate, `y' = y − θ(x − x̄)`, shrinking metric
    * variance by the squared pre/post correlation so an A/B test needs
    * ~1/(1−ρ²) times less traffic. θ is POOLED across variants
    * (`θ = cov(x,y)/var(x)` over all rows — the standard estimator;
    * per-variant θ would bias the contrast). Moments are exact
    * decimal(38,0) over milli values (cast BEFORE the sum, the
    * [[corrMatrixMilli]] rule); per-variant means ship exact
    * (trunc-div milli), and the three float readouts — `theta_r`
    * (round 6), the adjusted mean `mean_adj_milli_r` (round 4), and
    * `rho2_r` (round 6, the fraction of variance CUPED removes) — are
    * each written with ONE parenthesization the oracle mirrors
    * token-for-token. Zero pre-period variance reads null θ/adjusted
    * (not testable ≠ no effect), with the raw means still reported.
    *
    * Scale shape: one map-side-combinable per-variant aggregate + one
    * 1-row pooled aggregate broadcast back (the [[chiSquareDrift]]
    * 1-row crossJoin pattern) — raw rows shuffle once.
    */
  def cupedAdjust(
      df: DataFrame,
      variantCol: String,
      preCol: String,
      postCol: String): DataFrame = {
    val base = df
      .filter(col(variantCol).isNotNull && col(preCol).isNotNull && col(postCol).isNotNull)
      .select(
        col(variantCol).as("grp"),
        round(col(preCol).cast("double") * 1000, 0).cast("long").as("x"),
        round(col(postCol).cast("double") * 1000, 0).cast("long").as("y"))
    val perVariant = base
      .groupBy("grp")
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx_v"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy_v"))
    val pooled = base.agg(
      count(lit(1)).cast("long").as("nn"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
    val theta = "(CAST(nn * sxy - sx * sy AS DOUBLE) / CAST(nn * sxx - sx * sx AS DOUBLE))"
    val testable = "nn >= 2 AND (nn * sxx - sx * sx) > 0"
    perVariant
      .crossJoin(broadcast(pooled))
      .select(
        col("grp").as(variantCol),
        col("n"),
        expr("CAST(sy_v div n AS BIGINT)").as("mean_post_milli"),
        expr(
          s"""CAST(round(
             |  CASE WHEN $testable
             |  THEN CAST(sy_v AS DOUBLE) / n -
             |       $theta * (CAST(sx_v AS DOUBLE) / n - CAST(sx AS DOUBLE) / nn)
             |  END, 4) AS DOUBLE)""".stripMargin).as("mean_adj_milli_r"),
        expr(
          s"""CAST(round(
             |  CASE WHEN $testable THEN $theta END, 6) AS DOUBLE)""".stripMargin)
          .as("theta_r"),
        expr(
          s"""CAST(round(
             |  CASE WHEN $testable AND (nn * syy - sy * sy) > 0
             |  THEN (CAST(nn * sxy - sx * sy AS DOUBLE) * CAST(nn * sxy - sx * sy AS DOUBLE)) /
             |       (CAST(nn * sxx - sx * sx AS DOUBLE) * CAST(nn * syy - sy * sy AS DOUBLE))
             |  END, 6) AS DOUBLE)""".stripMargin).as("rho2_r"))
  }

  /** Calibration (reliability-diagram) bins for a probability-like score
    * against a binary outcome — "when the model says 0.8, does the event
    * happen 80% of the time?", the audit every model-based quality
    * filter ([[graft.ops.TextAnalysis.linearScore]] and friends) owes its
    * keep-threshold. Scores clamp to [0, 1] milli, land in `nBins`
    * equal-width bins, and each bin reports its confidence (mean score),
    * observed accuracy (positive rate), and the |gap| between them —
    * all exact integer milli (`conf_milli = Σs div n`,
    * `acc_milli = 1000·n_pos div n`); the expected-calibration-error
    * fold is `Σ n·gap_milli / Σn`, left to the caller so the per-bin
    * table stays the one artifact. Empty bins produce no rows (a
    * reliability diagram plots what it saw, not zeros it invented).
    *
    * Scale shape: ONE map-side-combinable aggregate over ≤ nBins keys —
    * nothing else; the [[benfordAudit]] envelope.
    */
  def calibrationBins(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins must be in [2, 1000], got $nBins")
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(
        least(
          greatest(round(col(scoreCol).cast("double") * 1000, 0).cast("long"), lit(0L)),
          lit(1000L)).as("s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("y"))
      .withColumn("bin", least(expr(s"(s * $nBins) div 1000"), lit(nBins - 1L)))
      .groupBy("bin")
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("n_pos"),
        sum(col("s")).cast("long").as("__ssum"))
      .select(
        col("bin"),
        expr(s"(bin * 1000) div $nBins").as("lo_milli"),
        expr(s"((bin + 1) * 1000) div $nBins").as("hi_milli"),
        col("n"),
        col("n_pos"),
        expr("__ssum div n").as("conf_milli"),
        expr("(1000 * n_pos) div n").as("acc_milli"),
        expr("abs(__ssum div n - (1000 * n_pos) div n)").as("gap_milli"))
  }

  /** Welch's two-sample t statistic per group — the parametric mean-shift
    * companion of [[ksDrift]] (KS detects ANY distributional change;
    * Welch answers "did the MEAN move, and by how much relative to
    * noise", robust to unequal variances and sizes — the A/B-test
    * default). Moments are exact decimal(38,0) over milli values (cast
    * BEFORE the sum, the [[corrMatrixMilli]] rule); the only float ops
    * are the final conversions, written with ONE parenthesization that
    * the oracle mirrors token-for-token, so `t_stat` (round 6) and the
    * Welch–Satterthwaite `df` (round 2) are engine-exact. Groups missing
    * from a cohort count n=0 (full-outer); t/df are null unless both
    * sides have n ≥ 2 and the pooled standard error is positive — "not
    * testable" is not "no effect". Exact integer per-side means
    * (trunc-div milli) ride along for the effect-size readout.
    *
    * Scale shape: one map-side-combinable aggregate per cohort, then a
    * ≤|groups|-row join — raw rows never meet, the [[chiSquareDrift]]
    * shape.
    */
  def welchTTest(
      a: DataFrame,
      b: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    def m(df: DataFrame, tag: String) =
      df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
        .select(
          col(groupCol).as("grp"),
          round(col(valueCol).cast("double") * 1000, 0).cast("long").as("x"))
        .groupBy("grp")
        .agg(
          count(lit(1)).cast("long").as(s"n_$tag"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as(s"sx_$tag"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as(s"sxx_$tag"))
    def v(t: String) =
      s"((CAST(sxx_$t AS DOUBLE) - CAST(sx_$t AS DOUBLE) * CAST(sx_$t AS DOUBLE) / n_$t) " +
        s"/ (n_$t - 1))"
    val se2 = s"(${v("a")} / n_a + ${v("b")} / n_b)"
    m(a, "a")
      .join(m(b, "b"), Seq("grp"), "full_outer")
      .select(
        col("grp").as(groupCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        expr("CAST(sx_a div n_a AS BIGINT)").as("mean_a_milli"),
        expr("CAST(sx_b div n_b AS BIGINT)").as("mean_b_milli"),
        expr(
          s"""CAST(round(
             |  CASE WHEN n_a >= 2 AND n_b >= 2 AND $se2 > 0
             |  THEN (CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b) / sqrt($se2)
             |  END, 6) AS DOUBLE)""".stripMargin).as("t_stat"),
        expr(
          s"""CAST(round(
             |  CASE WHEN n_a >= 2 AND n_b >= 2 AND $se2 > 0
             |  THEN $se2 * $se2 /
             |       ((${v("a")} / n_a) * (${v("a")} / n_a) / (n_a - 1) +
             |        (${v("b")} / n_b) * (${v("b")} / n_b) / (n_b - 1))
             |  END, 2) AS DOUBLE)""".stripMargin).as("df"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) per group — the NONPARAMETRIC
    * companion of [[welchTTest]]: "does one cohort stochastically
    * dominate the other", robust to outliers and any monotone transform
    * of the value, the right default when means are meaningless (heavy
    * tails, bounded scores). Everything rank-side is EXACT integer:
    * values compact to per-(group, value) tie blocks, the doubled
    * midrank of a block is `2F + c + 1` (F = strictly-smaller count,
    * c = block size — doubling keeps tie midranks integral), cohort A's
    * doubled rank sum `r2a = Σ ca·(2F + c + 1)` gives the doubled
    * statistic `u2_a = r2a − n_a·(n_a+1)` (= 2·U_A, so `u2_a div 2` is
    * the textbook U; A and B sum to `2·n_a·n_b`). The normal
    * approximation's z uses the tie-corrected variance
    * `Var = n_a·n_b·((n³−n) − Σ(t³−t)) / (12·n·(n−1))` — numerator and
    * denominator are exact decimal(38,0) integers, and the one float
    * conversion `z = (u2_a − n_a·n_b) / (2·sqrt(vn / vd))` is written
    * with ONE parenthesization the oracle mirrors token-for-token
    * (round 6). z is null unless both cohorts are non-empty and some
    * variance survives the ties ("not testable" is not "no shift").
    * Exact-arithmetic headroom: n³·n_a·n_b must fit decimal(38) —
    * groups to ~10⁷ rows per cohort, the [[chiSquareDrift]] posture.
    *
    * Scale shape: one union + one (group, value) tie-block aggregate
    * (map-side combinable), one distinct-value-grain window, one
    * per-group fold — raw cohorts never join, the [[ksDrift]] shape.
    */
  def mannWhitneyU(
      a: DataFrame,
      b: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    def side(df: DataFrame, isA: Int) =
      df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
        .select(
          col(groupCol).as("grp"),
          round(col(valueCol).cast("double") * 1000, 0).cast("long").as("v"),
          lit(isA.toLong).as("sa"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("v")
    val vn = "(CAST(n_a AS DECIMAL(38,0)) * n_b) * " +
      "((CAST(n_a + n_b AS DECIMAL(38,0)) + 1) * (n_a + n_b) * (n_a + n_b - 1) - ties)"
    val vd = "(CAST(12 AS DECIMAL(38,0)) * (n_a + n_b) * (n_a + n_b - 1))"
    side(a, 1)
      .unionByName(side(b, 0))
      .groupBy("grp", "v")
      .agg(
        sum(col("sa")).cast("long").as("ca"),
        sum(lit(1L) - col("sa")).cast("long").as("cb"),
        count(lit(1)).cast("long").as("c"))
      .withColumn("f", sum("c").over(w) - col("c"))
      .groupBy("grp")
      .agg(
        sum("ca").cast("long").as("n_a"),
        sum("cb").cast("long").as("n_b"),
        sum(expr("CAST(ca AS DECIMAL(38,0)) * (2 * f + c + 1)")).as("r2a"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("ties"))
      .select(
        col("grp").as(groupCol),
        col("n_a"),
        col("n_b"),
        expr("CAST(r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)").as("u2_a"),
        expr(
          s"""CAST(round(
             |  CASE WHEN n_a >= 1 AND n_b >= 1 AND $vn > 0
             |  THEN CAST(r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)
             |            - CAST(n_a AS DECIMAL(38,0)) * n_b AS DOUBLE) /
             |       (2 * sqrt(CAST($vn AS DOUBLE) / CAST($vd AS DOUBLE)))
             |  END, 6) AS DOUBLE)""".stripMargin).as("z_stat"))
  }

  /** Pearson chi-square contingency drift between two cohorts'
    * CATEGORICAL distributions — the discrete sibling of [[ksDrift]] (KS
    * needs an ordered value; event types, languages, label sets have
    * none). For a 2×m table the per-category contribution collapses to
    * the exact cross-product form `term = D² / (n_a·n_b·c_v)` with
    * `D = o_a·n_b − n_a·o_b` (algebraically equal to the textbook
    * Σ(O−E)²/E summed over the category's two cells — no expected-count
    * float ever materializes), computed per category in decimal(38,0)
    * (D wraps a long at ~3e9 rows per side) and reported as integral
    * `term_micro = 10⁶·D² div (n_a·n_b·c_v)`. One row per category with
    * both observed counts and its term; the statistic is the consumer's
    * SUM (dof = categories − 1) — per-category terms are the actionable
    * part (WHICH category drifted), the same shape as [[benfordAudit]].
    * Categories missing from one cohort count 0 there (full-outer).
    *
    * Scale shape: each cohort compacts to per-category counts first
    * (map-side combinable), then a ≤|categories|-row full-outer join and
    * two 1-row totals broadcast — raw rows never meet.
    */
  def chiSquareDrift(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    def cnt(df: DataFrame, name: String) =
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).as("v"))
        .agg(count(lit(1)).cast("long").as(name))
    val m = cnt(a, "o_a")
      .join(cnt(b, "o_b"), Seq("v"), "full_outer")
      .select(
        col("v"),
        coalesce(col("o_a"), lit(0L)).as("o_a"),
        coalesce(col("o_b"), lit(0L)).as("o_b"))
      .localCheckpoint() // totals + the term projection both read it
    val t = m.agg(
      sum("o_a").cast("long").as("__na"),
      sum("o_b").cast("long").as("__nb"))
    m.crossJoin(broadcast(t))
      .filter(col("__na") > 0 && col("__nb") > 0)
      // D² alone can reach ~1e32 at 1e8-row cohorts; multiplying by 10⁶
      // FIRST would overflow decimal(38,0) exactly on the most-drifted
      // category. Two-step exact division instead: term = (D² div den)·10⁶
      // + ((D² mod den)·10⁶) div den — identical value, every intermediate
      // bounded by max(D², den·10⁶).
      .withColumn(
        "__d2",
        expr(
          "(CAST(o_a AS DECIMAL(38,0)) * __nb - CAST(__na AS DECIMAL(38,0)) * o_b) * " +
            "(CAST(o_a AS DECIMAL(38,0)) * __nb - CAST(__na AS DECIMAL(38,0)) * o_b)"))
      .withColumn("__den", expr("CAST(__na AS DECIMAL(38,0)) * __nb * (o_a + o_b)"))
      .select(
        col("v").as(valueCol),
        col("o_a"),
        col("o_b"),
        expr(
          "CAST((__d2 div __den) * 1000000 + ((__d2 % __den) * 1000000) div __den AS BIGINT)")
          .as("term_micro"))
  }

  /** Gini concentration coefficient per group over a NON-NEGATIVE value
    * column (milli-scaled), exact-integral: with the group's values
    * ascending as x₁..xₙ, `G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)`, reported
    * as ppm via decimal trunc-division. 0 = perfectly even, →1 = all
    * mass on one row — the inequality lens on spend, token counts, or
    * event volume that [[quantilesByGroup]]'s point estimates don't
    * summarize. Nulls and negative values are EXCLUDED (Gini is defined
    * for non-negative distributions — a negative-capable measure needs a
    * shift the caller must choose); an all-zero group has no defined
    * coefficient and reports null.
    *
    * The rank sum Σi·xᵢ never ranks raw rows: per distinct value v with
    * count c and F = count of strictly-smaller rows, the tie block's rank
    * sum is `v·(c·F + c·(c+1)/2)` — so the window runs over DISTINCT
    * values only (the [[quantilesByGroup]] discipline) and a hot group's
    * million equal values are one row here.
    */
  def giniByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vm = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        round(col(valueCol).cast("double") * 1000, 0).cast("long").as("v"))
      .filter(col("v") >= 0)
      .groupBy("grp", "v")
      .agg(count(lit(1)).cast("long").as("c"))
    val w = Window.partitionBy("grp").orderBy("v")
    vm
      .withColumn("f", sum("c").over(w) - col("c")) // strictly-smaller rows
      .select(
        col("grp"),
        col("c"),
        // decimal from birth: Σ v·c wraps a long near ~3e13 milli-value rows
        expr("CAST(v AS DECIMAL(38,0)) * c").as("sv"),
        // decimal: v·c·F ≤ vmax·n² wraps a long near ~3e9 rows per group
        expr(
          "CAST(v AS DECIMAL(38,0)) * (c * f + (c * (c + 1)) div 2)").as("s1"))
      .groupBy("grp")
      .agg(
        sum("c").cast("long").as("n"),
        sum("sv").cast("decimal(38,0)").as("s"),
        sum("s1").cast("decimal(38,0)").as("s1"))
      .select(
        col("grp").as(groupCol),
        col("n"),
        col("s").cast("long").as("sum_milli"),
        expr(
          "CAST(CASE WHEN s > 0 THEN (CAST(1000000 AS DECIMAL(38,0)) * (2 * s1 - (n + 1) * s)) " +
            "div (n * s) END AS BIGINT)").as("gini_ppm"))
  }

  /** Herfindahl–Hirschman concentration index per group: the sum of
    * squared CATEGORY shares (ppm) — "is this event type's volume spread
    * across users or owned by three bots", the categorical concentration
    * twin of [[giniByGroup]]'s value inequality. Exact-integral:
    * `hhi_ppm = 10⁶·Σc² div n²` (shares never materialize as floats);
    * 10⁶/|categories| = perfectly even, 10⁶ = single-category. Also
    * reports `n_cats` and the largest single share.
    *
    * Scale shape: one (group, category) count (map-side combinable), one
    * per-group aggregate over category rows — raw rows never meet a
    * window or join.
    */
  def hhiByGroup(df: DataFrame, groupCol: String, catCol: String): DataFrame =
    df.filter(col(catCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy("grp")
      .agg(
        count(lit(1)).cast("long").as("n_cats"),
        sum("c").cast("long").as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("__s2"),
        max("c").cast("long").as("__cmax"))
      .select(
        col("grp").as(groupCol),
        col("n_cats"),
        col("n"),
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * __s2) div " +
            "(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("hhi_ppm"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * __cmax) div n AS BIGINT)")
          .as("top_share_ppm"))

  /** Benford first-significant-digit audit per group: observed digit
    * shares vs Benford's law, the classic fabricated-data / unit-mixing
    * screen for financial and telemetry columns. One row per (group,
    * digit 1-9): observed count, observed share (ppm), the pinned
    * Benford expectation (log10(1+1/d) pre-computed as integer ppm
    * LITERALS — no transcendental runs in either engine), the signed
    * deviation, and `dev_max_ppm` (the sup over digits, repeated per row
    * like the anisotropy audit) as the group's headline score. The first
    * significant digit comes from integer arithmetic on |milli| values
    * (divide by 10 until < 10) — no string formatting, no float log.
    * Zero-milli values carry no leading digit and are excluded (Benford
    * is about magnitudes).
    *
    * Scale shape: the digit projection is per-row integer math; then one
    * 9·|groups|-key count and a broadcast-sized join against the digit
    * share table. Nothing wider than the audit itself shuffles.
    */
  def benfordAudit(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // log10(1 + 1/d) in ppm, d = 1..9 (sums to 1e6 within rounding)
    val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L, 45757L)
    val digits = df
      .filter(col(valueCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        abs(round(col(valueCol).cast("double") * 1000, 0).cast("long")).as("am"))
      .filter(col("am") > 0)
      // peel trailing digits: a long has at most 19 decimal digits, so 18
      // conditional divides always land on the leading one; aggregate
      // folds the divides in one codegen'd expression
      .withColumn(
        "digit",
        expr("aggregate(sequence(1, 18), am, (acc, i) -> CASE WHEN acc >= 10 THEN acc div 10 ELSE acc END)"))
    val counts = digits.groupBy("grp", "digit").agg(count(lit(1)).cast("long").as("n_obs"))
    val totals = counts.groupBy("grp").agg(sum("n_obs").cast("long").as("n"))
    totals
      .select(
        col("grp"),
        col("n"),
        posexplode(typedLit(expected)).as(Seq("pos", "expected_ppm")))
      .select(col("grp"), col("n"), (col("pos") + 1L).as("digit"), col("expected_ppm"))
      .join(counts, Seq("grp", "digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .withColumn(
        "obs_ppm",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_obs) div n AS BIGINT)"))
      .withColumn("dev_ppm", col("obs_ppm") - col("expected_ppm"))
      .withColumn(
        "dev_max_ppm",
        max(abs(col("dev_ppm"))).over(Window.partitionBy("grp")))
      .select(
        col("grp").as(groupCol),
        col("digit"),
        col("n"),
        col("n_obs"),
        col("obs_ppm"),
        col("expected_ppm"),
        col("dev_ppm"),
        col("dev_max_ppm"))
  }

  /** Per-group mode: the most frequent value with a deterministic tie
    * break (highest count, then SMALLEST value — via the integer-safe
    * struct-max argmax), plus its count and share in ppm. The categorical
    * companion of the median: "which lang/source/status dominates each
    * group" without a window over the value key.
    *
    * Scale shape: one map-side-combinable (group, value) count, then a
    * struct-max argmax per group — a hot value pre-reduces inside each
    * map task, and the argmax ranks a group's DISTINCT values, never its
    * rows. No window anywhere.
    */
  def modeByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    modeFromCounts(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(groupCol).as("grp"), col(valueCol).cast("string").as("v"))
        .agg(count(lit(1)).cast("long").as("cnt")),
      groupCol)

  /** [[modeByGroup]] over a PRE-AGGREGATED (grp, v, cnt) value histogram —
    * the face a rollup store or a sketch ingest feeds (per-batch counts
    * merge by addition upstream; the argmax runs once on the merged
    * histogram). The ppm share widens through decimal(38,0): a long
    * `cnt * 1000000` wraps past ~9.2e12 rows for one value — a real
    * cardinality for a 100 TB event table's hot key — while the decimal
    * product is exact and `div` truncation matches the oracle's `//`.
    */
  def modeFromCounts(counts: DataFrame, groupCol: String): DataFrame =
    // struct-MIN over (-cnt, v): smallest negated count = highest count,
    // then smallest value — a string-safe deterministic argmax
    counts
      .groupBy("grp")
      .agg(
        sum("cnt").cast("long").as("n"),
        count(lit(1)).cast("long").as("n_distinct"),
        min(struct((-col("cnt")).as("nc"), col("v"))).as("m"))
      .select(
        col("grp").as(groupCol),
        col("n"),
        col("n_distinct"),
        col("m.v").as("mode"),
        (-col("m.nc")).cast("long").as("mode_n"),
        expr("CAST((CAST(-m.nc AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)").as("mode_ppm"))

  /** Robust per-group outlier flags via median/MAD: a value is an outlier
    * when `1000·|x − median| > kMilli·MAD` (MAD = median absolute
    * deviation) — the robust alternative to [[Anomaly.countAnomalies]]'
    * mean/sigma test, immune to the outliers it hunts (a single
    * pathological value shifts a mean arbitrarily but moves a median one
    * rank). Both medians are EXACT ([[quantilesByGroup]]'s value-histogram
    * walk), all decisions integer, hence hash-checkable. Degenerate
    * groups (MAD = 0: over half the values identical) flag every value
    * not equal to the median — the strict inequality's natural reading,
    * documented rather than special-cased.
    *
    * Values go through the exact-milli projection (`round(v·1000)`) like
    * every Stats operator — a fractional-valued column keeps its
    * resolution instead of being silently floor-truncated.
    *
    * Scale shape: two quantile passes, each compacting to distinct
    * (group, value) pairs before any window; the per-group thresholds
    * table is |groups| rows, broadcast back onto the rows; the flag
    * itself a stateless projection.
    */
  def madOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      kMilli: Long = 3000L): DataFrame = {
    require(kMilli > 0, s"kMilli must be > 0, got $kMilli")
    val rows = df
      .filter(col(valueCol).isNotNull)
      .select(
        col(idCol),
        col(groupCol),
        round(col(valueCol).cast("double") * 1000, 0).cast("long").as("x_milli"))
      .localCheckpoint() // feeds the median pass, the dev pass, and the flags
    val med = quantilesByGroup(rows, groupCol, "x_milli", Seq(50))
      .select(col(groupCol), col("p50").as("med_milli"))
    val withMed = rows.join(broadcast(med), Seq(groupCol))
    val mad = quantilesByGroup(
      withMed.withColumn("adev", abs(col("x_milli") - col("med_milli"))),
      groupCol,
      "adev",
      Seq(50))
      .select(col(groupCol), col("p50").as("mad_milli"))
    withMed
      .join(broadcast(mad), Seq(groupCol))
      .select(
        col(idCol),
        col(groupCol),
        col("x_milli"),
        col("med_milli"),
        col("mad_milli"),
        when(
          lit(1000L) * abs(col("x_milli") - col("med_milli")) > lit(kMilli) * col("mad_milli"),
          1L)
          .otherwise(0L)
          .as("outlier"))
  }

  /** Per-group ordinary-least-squares trend line, EXACT: slope and
    * intercept from the closed form `slope = (n·Σxy − Σx·Σy) /
    * (n·Σx² − (Σx)²)`, evaluated in integer milli/micro units with the
    * cross terms widened to decimal(38,0) BEFORE combination (n·Σxy
    * overflows int64 around 10⁶ rows of day-scale x — the widening is the
    * whole trick; DuckDB's HUGEINT mirrors it exactly, and both engines'
    * integral `div` truncates toward zero). Slope is reported in
    * MICRO-y-units per x-step (milli·1000 — a small daily drift would
    * vanish at milli), intercept in milli at x = 0; pick an x origin near
    * the data (a FIXED constant, never data-dependent) to keep the
    * moments small and the intercept meaningful.
    *
    * Scale shape: one map-side-combinable aggregate over the input — five
    * sums per group — then O(|groups|) arithmetic. The regression a
    * warehouse actually runs (trend per key), with none of the float
    * summation-order noise that makes `regr_slope` un-hashable.
    */
  def linearTrend(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val ym = round(col(yCol).cast("double") * 1000, 0).cast("long")
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("grp"), x.as("x"), ym.as("ym"))
      .groupBy("grp")
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum("x").cast("decimal(38,0)").as("sx"),
        sum("ym").cast("decimal(38,0)").as("sy"),
        // widen an OPERAND before multiplying: x*ym computed in int64
        // would wrap for epoch-micro-scale x before any cast could save
        // it, and the per-element decimal product costs the same
        sum(col("x").cast("decimal(19,0)") * col("ym")).cast("decimal(38,0)").as("sxy"),
        sum(col("x").cast("decimal(19,0)") * col("x")).cast("decimal(38,0)").as("sxx"))
      .withColumn("s1", expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy"))
      .withColumn("s2", expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx"))
      .filter(col("s2") =!= 0) // a single-x group has no slope
      .select(
        col("grp").as(groupCol),
        col("n"),
        expr("CAST((1000 * s1) div s2 AS BIGINT)").as("slope_micro"),
        expr("CAST((sy * s2 - s1 * sx) div (CAST(n AS DECIMAL(38,0)) * s2) AS BIGINT)")
          .as("intercept_milli"))
  }

  /** Spec stamp for the fixed-grid histogram sketch family — consumers
    * validate the grid the same way [[requireSketchK]] validates KMV's k:
    * two sketches over different grids must not merge or compare.
    */
  private def histSpec(loMilli: Long, hiMilli: Long, bins: Int): String =
    s"$loMilli:$hiMilli:$bins"

  private def requireHistBins(bins: Int): Unit =
    require(bins >= 2 && bins <= 65536, s"bins must be in [2, 65536], got $bins")

  /** The grid specs stamped on a histogram sketch. Fast path: the `spec`
    * column is a literal in the analyzed plan (stamped by
    * [[histSketch]]/[[histMerge]]) — read statically, no job. Fallback for
    * parquet round trips: one bounded aggregate over the
    * ≤ bins·|groups|-row sketch.
    */
  private def stampedSpecs(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.unsafe.types.UTF8String
    // ONLY the outermost Project (see stampedKs): upstream aliases named
    // "spec" are not this sketch's stamp
    val lits: Seq[Option[String]] = df.queryExecution.analyzed match {
      case p: Project =>
        p.projectList.collect { case a: Alias if a.name == "spec" =>
          a.child match {
            case Literal(v: UTF8String, _) => Some(v.toString)
            case _ => None
          }
        }
      case _ => Seq.empty
    }
    if (lits.nonEmpty && lits.forall(_.isDefined)) lits.flatten.toSet
    else
      df.select(col("spec").cast("string")).distinct().collect().map(_.getString(0)).toSet
  }

  private def requireHistSpec(sketches: Seq[DataFrame], spec: String): Unit =
    sketches.filter(_.columns.contains("spec")).foreach { df =>
      val specs = stampedSpecs(df)
      require(
        specs.forall(_ == spec),
        s"histogram sketches were built over grid(s) ${specs.mkString(", ")}, caller " +
          s"passed $spec — sketches over different grids do not merge or compare")
    }

  /** Fixed-grid histogram sketch: per group, the count of values landing
    * in each of `bins` equal-width buckets over [`loMilli`, `hiMilli`)
    * milli-units (values clamped into the edge buckets). The mergeable
    * quantile sketch of this engine: state is ≤ `bins` longs per group
    * REGARDLESS of input size, two sketches over the same grid merge by
    * counter ADDITION ([[histMerge]] — exactly equal to sketching the
    * unioned input, the law the spec pins), and any quantile reads off the
    * cumulative counts with deterministic one-bucket-width error
    * ([[histQuantiles]]). Where a t-digest would give adaptive error at
    * the cost of merge-order-dependent centroids (not oracle-hashable —
    * the [[heavyHitters]] caveat), the fixed grid is exactly portable:
    * bucket = `(clamp(round(v·1000)) - lo) · bins div (hi - lo)`, all
    * integer, so DuckDB rebuilds the sketch bit-for-bit.
    *
    * Scale shape: one map-side-combinable aggregate on (group, bucket) —
    * each map task emits ≤ bins rows per group no matter how many values
    * it saw; no window, no shuffle wider than the (tiny) sketch itself.
    */
  def histSketch(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      loMilli: Long = 0L,
      hiMilli: Long = 1024000L,
      bins: Int = 256): DataFrame = {
    requireHistBins(bins)
    require(hiMilli > loMilli, s"need hiMilli > loMilli, got [$loMilli, $hiMilli)")
    val span = hiMilli - loMilli
    val vm = round(col(valueCol).cast("double") * 1000, 0).cast("long")
    // clamp into [lo, hi-1] so the bucket index lands in range; the
    // division is integral `div`, NOT a double `/` + cast — a double
    // quotient loses exactness past 2^53 and a caller-chosen wide grid
    // would silently disagree with the oracle's integer `//`
    val vcl = greatest(lit(loMilli), least(vm, lit(hiMilli - 1)))
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), vcl.as("vcl"))
      .withColumn(
        "bucket",
        expr(s"((vcl - CAST($loMilli AS BIGINT)) * CAST($bins AS BIGINT)) div CAST($span AS BIGINT)"))
      .groupBy("grp", "bucket")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select(
        col("grp"),
        col("bucket"),
        col("cnt"),
        lit(histSpec(loMilli, hiMilli, bins)).as("spec"))
  }

  /** Two-pass grid fit for [[histSketch]] when the caller does NOT know
    * the value domain: one bounded min/max aggregate (a 1-row driver
    * collect, the centroid-fit pattern) derives the tightest half-open
    * milli grid `[min, max+1)` covering every value — so no mass is
    * silently clamped into the edge buckets, the failure mode the pinned
    * default grid documents. The fitted grid is stamped onto the sketch
    * like any other ([[histSketch]]'s `spec` literal), so merging a
    * sketch whose DATA drifted past the fitted domain fails fast in
    * [[histMerge]] instead of mixing incompatible bucket widths.
    * Integer-exact (min/max of rounded millis), hence oracle-derivable.
    */
  def fitHistGrid(df: DataFrame, valueCol: String): (Long, Long) = {
    val vm = round(col(valueCol).cast("double") * 1000, 0).cast("long")
    val r = df.filter(col(valueCol).isNotNull).agg(min(vm).as("lo"), max(vm).as("hi")).head()
    require(!r.isNullAt(0), s"fitHistGrid: no non-null $valueCol values to fit a grid on")
    (r.getLong(0), r.getLong(1) + 1L)
  }

  /** [[histSketch]] with a PER-GROUP derived grid: each group's buckets
    * span exactly its own `[min, max+1)` milli domain — the resolution
    * answer when group value ranges differ by orders of magnitude (one
    * shared grid gives a narrow-range group a single hot bucket and
    * useless quantiles). The grid travels WITH the sketch rows
    * (`lo_milli`, `hi_milli` columns) instead of a corpus-wide stamp.
    *
    * Scale shape: two passes over the input — a per-group min/max
    * aggregate (|groups| rows, AQE broadcasts it back) then the bucket
    * count — the honest price of not knowing the domain; the sketch
    * itself stays ≤ bins·|groups| rows. All arithmetic integral
    * (`(vm - lo)·bins div (hi - lo)`), hence hash-checkable.
    */
  def histSketchPerGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      bins: Int = 256): DataFrame = {
    requireHistBins(bins)
    val vm = round(col(valueCol).cast("double") * 1000, 0).cast("long")
    val vals = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), vm.as("vm"))
    val grid = vals
      .groupBy("grp")
      .agg(min("vm").as("lo_milli"), (max("vm") + 1L).as("hi_milli"))
    vals
      .join(grid, Seq("grp"))
      .withColumn(
        "bucket",
        expr(s"((vm - lo_milli) * CAST($bins AS BIGINT)) div (hi_milli - lo_milli)"))
      .groupBy("grp", "lo_milli", "hi_milli", "bucket")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select("grp", "bucket", "cnt", "lo_milli", "hi_milli")
  }

  /** Merge per-group-grid sketches by counter addition. Only sketches
    * whose groups derived the SAME grid merge (per-day batches over a
    * stable domain); a drifted group fails fast AT SERVE TIME — the
    * check is an `assert_true` woven into the serving plan's filter (it
    * returns NULL on pass, so the filter keeps every row and cannot be
    * pruned), because per-group grids are data, not literals, and an
    * eager validation job would re-execute lazy inputs per consumer (the
    * KMV k-stamp lesson).
    */
  def histMergePerGroup(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "histMergePerGroup needs at least one sketch")
    val u = sketches
      .map(_.select("grp", "bucket", "cnt", "lo_milli", "hi_milli"))
      .reduce(_ unionByName _)
    val grids = u
      .select("grp", "lo_milli", "hi_milli")
      .distinct()
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n_grids"),
        min("lo_milli").as("lo_milli"),
        min("hi_milli").as("hi_milli"))
      .filter(expr(
        "assert_true(n_grids = 1, 'per-group histogram grids drifted across batches — " +
          "re-sketch the drifted batch over the shared grid') IS NULL"))
    u.groupBy("grp", "bucket")
      .agg(sum("cnt").cast("long").as("cnt"))
      .join(grids.select("grp", "lo_milli", "hi_milli"), Seq("grp"))
      .select("grp", "bucket", "cnt", "lo_milli", "hi_milli")
  }

  /** [[histQuantiles]] over a per-group-grid sketch
    * ([[histSketchPerGroup]]): the same cumulative walk, with bucket
    * bounds reconstructed from each group's own `[lo, hi)` columns
    * instead of a shared literal grid. Same scale shape: windows and
    * joins over ≤ bins·|groups| sketch rows only.
    */
  def histQuantilesPerGroup(
      sketch: DataFrame,
      groupCol: String,
      qMillis: Seq[Int],
      bins: Int = 256): DataFrame = {
    requireHistBins(bins)
    require(qMillis.nonEmpty, "need at least one quantile")
    require(
      qMillis.forall(q => q >= 1 && q <= 1000),
      s"quantiles are per-mille ranks in [1, 1000], got ${qMillis.mkString(",")}")
    // two consumers (cumulative window + totals): materialize the
    // ≤ bins·|groups|-row state once, per the repo's recompute rule
    val sk = sketch.select("grp", "bucket", "cnt", "lo_milli", "hi_milli").localCheckpoint()
    val cum = sk
      .withColumn("cum", sum("cnt").over(Window.partitionBy("grp").orderBy("bucket")))
      .select(col("grp"), col("bucket"), col("cum"))
    val targets = sk
      .groupBy("grp")
      .agg(
        sum("cnt").cast("long").as("n"),
        min("lo_milli").as("lo"),
        min("hi_milli").as("hi"))
      .select(
        col("grp"),
        col("n"),
        col("lo"),
        col("hi"),
        explode(array(qMillis.map(q => lit(q.toLong)): _*)).as("q_milli"))
      .withColumn("target", expr("(q_milli * n + 999) div 1000"))
    targets
      .join(cum, Seq("grp"))
      .filter(col("cum") >= col("target"))
      .groupBy("grp", "q_milli", "n", "lo", "hi")
      .agg(min("bucket").as("bucket"))
      .select(
        col("grp").as(groupCol),
        col("q_milli"),
        col("n"),
        col("bucket"),
        expr(s"lo + (bucket * (hi - lo)) div CAST($bins AS BIGINT)").as("lo_milli"),
        expr(s"lo + ((bucket + 1) * (hi - lo)) div CAST($bins AS BIGINT)").as("hi_milli"))
  }

  /** Merge histogram sketches over the SAME grid by counter addition —
    * exactly equal to sketching the unioned raw input (linearity), so
    * per-shard / per-day sketches roll up forever without re-reading data.
    */
  def histMerge(
      sketches: Seq[DataFrame],
      loMilli: Long = 0L,
      hiMilli: Long = 1024000L,
      bins: Int = 256): DataFrame = {
    require(sketches.nonEmpty, "histMerge needs at least one sketch")
    requireHistBins(bins)
    val spec = histSpec(loMilli, hiMilli, bins)
    requireHistSpec(sketches, spec)
    sketches
      .map(_.select("grp", "bucket", "cnt"))
      .reduce(_ unionByName _)
      .groupBy("grp", "bucket")
      .agg(sum("cnt").cast("long").as("cnt"))
      .select(col("grp"), col("bucket"), col("cnt"), lit(spec).as("spec"))
  }

  /** Quantiles from a histogram sketch: for each group and each requested
    * per-mille rank q, the first bucket whose cumulative count reaches
    * `ceil(q·n/1000)`, reported with its integer milli-unit value bounds —
    * the true quantile is guaranteed inside [`lo_milli`, `hi_milli`)
    * (modulo edge-bucket clamping), a deterministic one-bucket-width error
    * band. All arithmetic integer (`target = (q·n + 999) div 1000`), hence
    * engine-portable and hash-checkable — the distributed-percentile face
    * that `approx_percentile`'s engine-private GK sketch cannot give an
    * oracle for.
    *
    * Scale shape: the cumulative window partitions by group over ≤ bins
    * rows; the quantile probe is an equi-join on group against the
    * |groups|·|qs| target table. Nothing here ever re-reads raw data.
    */
  def histQuantiles(
      sketch: DataFrame,
      groupCol: String,
      qMillis: Seq[Int],
      loMilli: Long = 0L,
      hiMilli: Long = 1024000L,
      bins: Int = 256): DataFrame = {
    requireHistBins(bins)
    require(qMillis.nonEmpty, "need at least one quantile")
    require(
      qMillis.forall(q => q >= 1 && q <= 1000),
      s"quantiles are per-mille ranks in [1, 1000], got ${qMillis.mkString(",")}")
    requireHistSpec(Seq(sketch), histSpec(loMilli, hiMilli, bins))
    val span = hiMilli - loMilli
    // the sketch subtree feeds two consumers (cumulative window + totals):
    // materialize the ≤ bins·|groups|-row state once, per the repo's
    // recompute rule
    val sk = sketch.select("grp", "bucket", "cnt").localCheckpoint()
    val cum = sk
      .withColumn("cum", sum("cnt").over(Window.partitionBy("grp").orderBy("bucket")))
      .select(col("grp"), col("bucket"), col("cum"))
    val targets = sk
      .groupBy("grp")
      .agg(sum("cnt").cast("long").as("n"))
      .select(
        col("grp"),
        col("n"),
        explode(array(qMillis.map(q => lit(q.toLong)): _*)).as("q_milli"))
      // integral div, not double `/` + cast: exact past 2^53
      .withColumn("target", expr("(q_milli * n + 999) div 1000"))
    targets
      .join(cum, Seq("grp"))
      .filter(col("cum") >= col("target"))
      .groupBy("grp", "q_milli", "n")
      .agg(min("bucket").as("bucket"))
      .select(
        col("grp").as(groupCol),
        col("q_milli"),
        col("n"),
        col("bucket"),
        expr(s"CAST($loMilli AS BIGINT) + (bucket * CAST($span AS BIGINT)) div CAST($bins AS BIGINT)")
          .as("lo_milli"),
        expr(
          s"CAST($loMilli AS BIGINT) + ((bucket + 1) * CAST($span AS BIGINT)) div CAST($bins AS BIGINT)")
          .as("hi_milli"))
  }

  /** Batch contract of the streaming histogram face
    * ([[graft.streaming.SketchIngest.histIngest]]) — the shared store
    * lifecycle: batch 0 (or a missing store) claims the root and pins the
    * grid in `params`; later batches fail fast on a grid mismatch; each
    * batch lands its own ≤ bins·|groups|-row sketch under
    * `sketch/batch_id=N` so checkpoint retries overwrite themselves.
    */
  def ingestHistBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      groupCol: String,
      valueCol: String,
      loMilli: Long = 0L,
      hiMilli: Long = 1024000L,
      bins: Int = 256): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val spec = histSpec(loMilli, hiMilli, bins)
    StoreLifecycle.claim(
      spark,
      path,
      "sketch",
      batchId,
      () => Seq(spec).toDF("spec").coalesce(1).write.mode("overwrite").parquet(s"$path/params"),
      () => {
        val s0 = spark.read.parquet(s"$path/params").head.getString(0)
        require(s0 == spec, s"hist store at $path was built over grid $s0, got $spec")
      })
    histSketch(batch, groupCol, valueCol, loMilli, hiMilli, bins)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/sketch/batch_id=$batchId")
  }

  /** Roll up every landed batch sketch by counter addition, then read the
    * requested quantiles — by linearity exactly the one-pass whole-stream
    * sketch's answer, the hash-equality the oracle query checks.
    */
  def readHistQuantiles(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      groupCol: String,
      qMillis: Seq[Int],
      loMilli: Long = 0L,
      hiMilli: Long = 1024000L,
      bins: Int = 256): DataFrame = {
    require(
      Similarity.storeExists(spark, s"$path/params"),
      s"no hist store at $path — ingest at least one batch first")
    val spec = histSpec(loMilli, hiMilli, bins)
    val s0 = spark.read.parquet(s"$path/params").head.getString(0)
    require(s0 == spec, s"hist store at $path was built over grid $s0, got $spec")
    val merged = spark.read
      .parquet(s"$path/sketch")
      .groupBy("grp", "bucket")
      .agg(sum("cnt").cast("long").as("cnt"))
      .select(col("grp"), col("bucket"), col("cnt"), lit(spec).as("spec"))
    histQuantiles(merged, groupCol, qMillis, loMilli, hiMilli, bins)
  }
}
