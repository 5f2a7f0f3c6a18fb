package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`). Two paths:
  *
  *  - brute force: query-set × corpus cross join, exact cosine, windowed
  *    top-k. Correctness baseline; linear in |queries|·|corpus|, so only for
  *    small query sets or reranking.
  *  - sign-LSH: random-hyperplane buckets degenerate to coordinate
  *    hyperplanes (sign of the first B dims) so the oracle can mirror the
  *    arithmetic exactly. Candidates = same-bucket rows → the cross join
  *    shrinks to sum(bucket²); the scale path for full-corpus kNN.
  *
  * All dot products promote float elements to double and fold sequentially
  * (zip_with + aggregate), matching the oracle bit-for-bit.
  */
object Similarity {

  /** Sequential-fold dot product over two float vectors, in doubles.
    * Reference implementation — interpreter-bound (HOF lambdas don't
    * codegen); the hot path uses [[cosine]] instead.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Fused native cosine ([[graft.functions.CosineSimilarity]]): one
    * codegen'd loop per pair, bit-identical to dot/(norm*norm) (asserted in
    * CosineSpec; measured 8x faster on an all-pairs sweep).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.functions.cosine_similarity(a, b)

  /** Bucket id from the sign bits of the first `bits` dimensions. `get`
    * (null past the end, matching SQL list indexing) keeps short vectors
    * legal: missing dims contribute 0.
    */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(get(v, lit(i)) > 0f, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)

  /** Exact top-k neighbors for each query vector (excluding self). Rank by
    * cosine rounded to 6 places, descending, neighbor id ascending — the
    * rounding makes rank order engine-portable under FP noise.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    rank(
      q.join(c, col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(cosine(col("qv"), col("cv")), 6).as("cos_r")),
      k)
  }

  /** Semantic benchmark decontamination: flag every corpus vector whose
    * cosine to ANY benchmark vector reaches `threshold` — the embedding
    * face of the contamination family ([[graft.ops.Corpus.contaminationNgrams]]
    * catches verbatim reuse, `TextAnalysis.crossDupSpans` catches span
    * reuse; this catches paraphrases that share no surface n-grams).
    * Returns one row per CONTAMINATED corpus vector: hit count, best
    * cosine, and the benchmark vector responsible (deterministic
    * tiebreak: highest cosine, then lowest benchmark id, via the
    * integer-safe struct-max argmax).
    *
    * Scale shape: sign-LSH blocking on both sides (the [[graft.ops.Dedup.embeddingCosine]]
    * contract — exact for verbatim-embedding contamination since identical
    * vectors always share a bucket; probabilistic recall for paraphrase
    * near-misses, dialed by `bits`), so the cross join is an equi-join on
    * bucket with sum(|corpus_bucket|·|bench_bucket|) pairs, then ONE
    * map-side-combinable per-corpus-vector aggregate. The benchmark side
    * is typically tiny (eval suites); Spark broadcasts it under AQE.
    */
  def semanticContamination(
      corpus: DataFrame,
      bench: DataFrame,
      threshold: Double = 0.99,
      bits: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(
      col(idCol).as("vec_id"),
      col(vecCol).as("cv"),
      signBucket(col(vecCol), bits).as("bucket"))
    val b = bench.select(
      col(idCol).as("bench_id"),
      col(vecCol).as("bv"),
      signBucket(col(vecCol), bits).as("bucket"))
    c.join(b, Seq("bucket"))
      .select(
        col("vec_id"),
        col("bench_id"),
        round(cosine(col("cv"), col("bv")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(
        count(lit(1)).cast("long").as("n_hits"),
        max(struct(col("cos"), (-col("bench_id")).as("nb"))).as("best"))
      .select(
        col("vec_id"),
        col("n_hits"),
        col("best.cos").as("best_cosine"),
        (-col("best.nb")).cast("long").as("best_bench_id"))
  }

  /** Sign-LSH top-k: candidates restricted to the query's bucket. Same
    * ranking contract as [[bruteForceTopK]]; recall depends on bucket
    * granularity (tested against the brute-force baseline).
    */
  def signLshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bits: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("qv"),
      signBucket(col(vecCol), bits).as("bucket"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      signBucket(col(vecCol), bits).as("bucket"))
    rank(
      q.join(c, Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(cosine(col("qv"), col("cv")), 6).as("cos_r")),
      k)
  }

  /** Maximal-marginal-relevance rerank: diversity-aware top-k. Step 1
    * picks the most relevant candidate; each later step picks the
    * remaining candidate maximizing `λ·rel(d) − (1−λ)·max_{s∈selected}
    * sim(d, s)` — the classic redundancy penalty, so near-duplicate
    * neighbors don't crowd the result list. Candidates are the
    * [[bruteForceTopK]] pool (swap in any ANN probe upstream); relevance
    * and pairwise similarity are cosine rounded to 6 places, scaled to
    * integer micro-units, and λ is integer milli — every score is exact
    * integer arithmetic, so ranking (ties → lowest neighbor id) is
    * engine-portable and the DuckDB oracle hash-matches.
    *
    * Execution shape: the greedy loop is k DataFrame iterations over
    * per-query state — each step one equi-join + max-aggregation +
    * arg-max aggregation, all hash-partitioned by `query_id` (never a
    * driver-side loop over collected candidates). The pairwise table is
    * |queries|·pool² rows, bounded by construction; `selected` is
    * materialized per step so step N's plan does not embed steps 1..N-1
    * (the CC-loop lesson).
    */
  def mmrTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      pool: Int = 15,
      lambdaMilli: Int = 700,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(
      lambdaMilli >= 0 && lambdaMilli <= 1000,
      s"lambdaMilli must be in [0, 1000], got $lambdaMilli")
    val cand = bruteForceTopK(queries, corpus, pool, idCol, vecCol)
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(col("cos_r") * 1e6, 0).cast("long").as("rel_u"))
      .localCheckpoint() // consumed every greedy step
    val emb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val withV = cand.join(emb, Seq("neighbor_id"))
    val pairs = withV.as("a")
      .join(
        withV.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.neighbor_id") =!= col("b.neighbor_id"))
      .select(
        col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("da"),
        col("b.neighbor_id").as("db"),
        round(round(cosine(col("a.cv"), col("b.cv")), 6) * 1e6, 0).cast("long").as("sim_u"))
      .localCheckpoint()
    def pick(scored: DataFrame, step: Int): DataFrame =
      scored
        .groupBy("query_id")
        .agg(max(struct(col("score_u"), (-col("neighbor_id")).as("negid"))).as("m"))
        .select(
          col("query_id"),
          lit(step).as("rank"),
          (-col("m.negid")).as("neighbor_id"),
          col("m.score_u").as("mmr_u"))
    var selected = pick(
      cand.select(
        col("query_id"),
        col("neighbor_id"),
        (col("rel_u") * lambdaMilli).as("score_u")),
      1).localCheckpoint()
    for (step <- 2 to k) {
      val remaining = cand.join(
        selected.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"),
        "left_anti")
      val maxSim = pairs
        .join(
          selected.select(col("query_id"), col("neighbor_id").as("db")),
          Seq("query_id", "db"))
        .groupBy("query_id", "da")
        .agg(max("sim_u").as("max_sim_u"))
        .withColumnRenamed("da", "neighbor_id")
      val scored = remaining
        .join(maxSim, Seq("query_id", "neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          (col("rel_u") * lambdaMilli - col("max_sim_u") * (1000 - lambdaMilli))
            .as("score_u"))
      selected = selected.unionByName(pick(scored, step)).localCheckpoint()
    }
    selected.select("query_id", "rank", "neighbor_id", "mmr_u")
  }

  /** Project → bucket → pool → exact-rerank ANN: candidates come from
    * the query's sign-LSH bucket IN THE PROJECTED SPACE (bit `i` of the
    * bucket = sign of projected coordinate `i`, over the first `bits`
    * of the `outDim` [[projectMilli]] coordinates — exact longs, so
    * bucketing and pool selection are engine-portable), are ranked
    * there by integer-exact projected cosine, and the pool is then
    * re-scored with EXACT cosine on the original vectors under the
    * usual top-k contract. The scale shape: the pool stage is a hash
    * EQUI-join on the bucket id — never an all-pairs comparison — with
    * MULTI-PROBE on the query side only: each query probes its own
    * bucket plus the `bits` buckets at Hamming distance 1 (a stateless
    * ×(bits+1) explode of the tiny query table), so a single
    * noise-flipped sign bit on either side cannot lose a true neighbor.
    * The corpus side shuffles once on a 2^bits-ary key and each query
    * compares against ~(bits+1)·|corpus| / 2^bits candidates reading
    * `outDim/dim` of the bytes; only |queries|·pool original vectors are
    * ever read for the rerank. A (query, candidate) pair can meet in at
    * most ONE probe bucket (the candidate lives in exactly one), so no
    * dedup step. Recall is a JL-plus-LSH question: `bits = 0`
    * degenerates to a single bucket (the spec pins pool=corpus+bits=0 ≡
    * brute force exactly), and recall@1 on clustered data is pinned at
    * the default bits.
    */
  def projectedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      pool: Int = 15,
      outDim: Int = 16,
      dim: Int = 64,
      bits: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bits >= 0 && bits <= outDim, s"bits ($bits) must be in [0, outDim=$outDim]")
    def bucketOf(v: Column): Column =
      if (bits == 0) lit(0L)
      else (0 until bits).map(i => when(get(v, lit(i)) > 0L, lit(1L << i)).otherwise(0L)).reduce(_ + _)
    val pq0 = projectMilli(queries, outDim, dim, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("proj_milli").as("pv"))
      .withColumn("__pbkt0", bucketOf(col("pv")))
    val pq =
      if (bits == 0) pq0.withColumnRenamed("__pbkt0", "__pbkt")
      else pq0
        .withColumn(
          "__pbkt",
          explode(array(
            col("__pbkt0") +:
              (0 until bits).map(i => col("__pbkt0").bitwiseXOR(lit(1L << i))): _*)))
        .drop("__pbkt0")
    val pc = projectMilli(corpus, outDim, dim, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("proj_milli").as("cv"))
      .withColumn("__pbkt", bucketOf(col("cv")))
    def norm2(c: Column): Column =
      aggregate(transform(c, x => x * x), lit(0L), (a, x) => a + x)
    val dotL =
      aggregate(zip_with(col("pv"), col("cv"), (x, y) => x * y), lit(0L), (a, x) => a + x)
    val pooled = pq
      .join(pc, Seq("__pbkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(
          dotL.cast("double") /
            sqrt(norm2(col("pv")).cast("double") * norm2(col("cv")).cast("double")),
          6).as("pcos_r"))
      .withColumn(
        "prank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("pcos_r").desc, col("neighbor_id"))))
      .filter(col("prank") <= pool)
      .select("query_id", "neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv0"))
    rank(
      pooled
        .join(qv, Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(cosine(col("qv"), col("cv0")), 6).as("cos_r")),
      k)
  }

  /** IVF coarse quantizer: k-means over the corpus (deterministic init =
    * the `nCentroids` LOWEST-id corpus vectors — identical to `id <
    * nCentroids` on the dense-from-0 id spaces the oracles assume, but
    * also correct for sharded/offset/thinned id spaces; same seed rule as
    * the flat quantizer; fixed Lloyd iterations). Returns (centroid_id,
    * centroid) with centroids as array<float>.
    *
    * Every stage is integer- or rounding-stabilized so the WHOLE k-means
    * is hash-identical across engines (the move that retired this
    * operator's rows-only check): assignment ranks by cosine rounded to 6
    * places with centroid-id tie-break, and the Lloyd mean is integer
    * milli-units — `floor(sum(round(x*1000)) / count)` per dimension —
    * whose integer sum is summation-order-independent, unlike a float
    * avg(). The milli value maps back to a float via `(m / 1000.0)::float`,
    * bit-identical in any IEEE engine. A cell that loses all members
    * simply drops out (mirrored in the oracle).
    */
  def ivfCentroids(
      corpus: DataFrame,
      nCentroids: Int,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Float])] = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .orderBy(col(idCol))
      .limit(nCentroids)
      .collect()
      .toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    require(cents.nonEmpty, "ivfCentroids: corpus has no vectors to seed centroids from")
    // Each Lloyd iteration materializes its centroids back to a driver-side
    // literal (<= nCentroids rows). Without this, iteration N's plan embeds
    // iterations 1..N-1 and every downstream reference re-evaluates the whole
    // k-means lineage — the classic iterative-algorithm anti-pattern.
    (1 to iters).foreach { _ =>
      val assigned = assign(corpus, cents.toDF("centroid_id", "centroid"), idCol, vecCol)
      // element-wise milli-mean per cell: posexplode → integer mean per
      // dimension → re-pack sorted by position
      cents = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)))
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

  /** Nearest-centroid assignment (centroids broadcast). Rounds the cosine
    * to 6 places before ranking — ties break on centroid id, so the
    * assignment is engine-portable under FP noise (same contract as
    * [[ivfFlatTopK]]'s cells).
    */
  private def assign(
      corpus: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String): DataFrame =
    corpus.select(
      col(idCol),
      col(vecCol),
      element_at(topCentroids(col(vecCol), centArrayLit(cents), 1), 1).as("centroid_id"))

  /** IVF top-k with a FLAT deterministic coarse quantizer: the seed
    * centroids are the corpus vectors with `id < nCentroids`, no Lloyd
    * refinement. Cell assignment, probe selection and rerank all rank by
    * cosine rounded to 6 places (ties → lower centroid id), on unmodified
    * input vectors — every stage is oracle-mirrorable, so this is the
    * hash-checked face of the IVF machinery. [[ivfTopK]] swaps in
    * k-means-refined centroid VALUES (iterative FP means, rows-only
    * check) but shares the assign→probe→rerank shape and scale posture:
    * centroids broadcast, cross join bounded by |corpus|·nCentroids
    * comparisons map-side, candidate join bounded by probed cells.
    */
  def ivfFlatTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = flatCents(corpus, nCentroids, idCol, vecCol)
    rerank(
      flatProbes(queries, cents, nProbe, idCol, vecCol),
      flatCells(corpus, cents, idCol, vecCol),
      k)
  }

  /** Flat coarse quantizer: the `nCentroids` lowest-id corpus vectors
    * (equal to `id < nCentroids` on dense-from-0 id spaces — what the
    * oracles assume — but correct for arbitrary id spaces too).
    */
  private def flatCents(corpus: DataFrame, nCentroids: Int, idCol: String, vecCol: String) =
    corpus
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid"))
      .orderBy(col("centroid_id"))
      .limit(nCentroids)

  /** The centroid table as ONE in-plan array literal, ordered by
    * centroid_id — a bounded decision read (≤ nCentroids rows, the
    * [[ivfCentroids]] collect discipline). Feeding assignment/probing an
    * array literal turns the old `crossJoin(broadcast) + row_number`
    * window — which multiplied every input row × nCentroids and then
    * SHUFFLED that product to sort per key — into a per-row array scan:
    * zero exchanges at any corpus size (guide §2.4, remove shuffles
    * outright), with the window's exact ordering contract
    * (csim desc NULLS LAST, centroid_id asc) moved into one explicit
    * comparator ([[centOrder]]).
    *
    * CONTRACT (round-17 advisory, deliberate): an EMPTY centroid table
    * fails fast here — it can only arise from building/probing over an
    * empty corpus or an empty train set, and the pre-literal behavior
    * (crossJoin against the empty broadcast) silently returned ZERO
    * rows, reading as "index built, nothing matched" instead of "you
    * built an index over nothing". Every IVF build/probe face inherits
    * this refusal, and the driver-side collect makes it surface at
    * plan-construction time — eagerly, by design: the bad call dies at
    * its own stack frame, not inside a later action.
    */
  private def centArrayLit(cents: DataFrame): Column = centArray(cents)._1

  /** [[centArrayLit]] plus the centroid count its collect already read —
    * the tuners need both and must not pay a second job for the count.
    */
  private def centArray(cents: DataFrame): (Column, Int) = {
    val rows = cents
      .select(col("centroid_id").cast("long"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(
      rows.nonEmpty,
      "centroid table is empty — IVF builds/probes over an empty corpus or train set " +
        "are refused (an empty index would silently answer every query with zero rows); " +
        "build the index over a non-empty corpus first")
    (array(rows.map { case (id, v) =>
      struct(lit(id).as("centroid_id"), typedLit(v).as("centroid"))
    }: _*), rows.length)
  }

  /** (csim desc NULLS LAST, centroid_id asc) over scored centroid structs —
    * bit-for-bit the ordering of the replaced `row_number` window
    * (`orderBy(csim.desc, centroid_id)`): [[cosine]] yields null (never
    * NaN) on degenerate vectors, and desc ordering puts nulls last.
    */
  private def centOrder(l: Column, r: Column): Column = {
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

  /** Top-`p` centroid ids of one vector against the centroid array
    * literal, in probe order — the shuffle-free core of assignment
    * (p = 1) and probing (p = nProbe).
    */
  private def topCentroids(v: Column, centsArr: Column, p: Int): Column =
    slice(
      transform(
        array_sort(
          transform(centsArr, c =>
            struct(
              round(cosine(v, c.getField("centroid")), 6).as("csim"),
              c.getField("centroid_id").as("centroid_id"))),
          (l, r) => centOrder(l, r)),
        s => s.getField("centroid_id")),
      1,
      p)

  /** Corpus assigned to nearest-centroid cells (rounded cosine, lower
    * centroid id breaks ties) — one narrow projection, no shuffle.
    */
  private def flatCells(
      corpus: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String,
      carry: Seq[(String, String)] = Nil) =
    corpus.select(
      col(idCol).as("neighbor_id") +: col(vecCol).as("cv") +:
        element_at(topCentroids(col(vecCol), centArrayLit(cents), 1), 1).as("centroid_id") +:
        carry.map { case (c, a) => col(c).as(a) }: _*)

  /** Each query paired with its `nProbe` nearest cells. */
  private def flatProbes(
      queries: DataFrame,
      cents: DataFrame,
      nProbe: Int,
      idCol: String,
      vecCol: String,
      carry: Seq[(String, String)] = Nil): DataFrame =
    flatProbesArr(queries, centArrayLit(cents), nProbe, idCol, vecCol, carry)

  /** [[flatProbes]] over a PRE-BUILT centroid array literal — the tuners
    * probe the same store several times and must not pay the bounded
    * centroid collect per probe.
    */
  private def flatProbesArr(
      queries: DataFrame,
      centsArr: Column,
      nProbe: Int,
      idCol: String,
      vecCol: String,
      carry: Seq[(String, String)] = Nil): DataFrame =
    queries
      .select(
        col(idCol).as("query_id") +: col(vecCol).as("qv") +:
          carry.map { case (c, a) => col(c).as(a) }: _*)
      .withColumn("__cells", topCentroids(col("qv"), centsArr, nProbe))
      // explode_outer + null guard, never plain explode over a computed
      // array: InferFiltersFromGenerate would re-evaluate the scoring
      // chain per row (the round-10 DSIR lesson)
      .select(
        col("query_id") +: col("qv") +: explode_outer(col("__cells")).as("centroid_id") +:
          carry.map(c => col(c._2)): _*)
      .filter(col("centroid_id").isNotNull)

  private def rerank(probes: DataFrame, cells: DataFrame, k: Int): DataFrame =
    rank(
      probes
        .join(cells, Seq("centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(cosine(col("qv"), col("cv")), 6).as("cos_r")),
      k)

  /** Hard-negative mining for contrastive/embedding training: for each
    * query, the top-k most-similar corpus vectors whose `labelCol`
    * DIFFERS from the query's — the "confusable but wrong" examples that
    * make a retrieval/classification model actually learn a margin
    * (random negatives are trivially separable; the informative ones live
    * near the decision boundary). The label can be a class, a cluster id
    * from [[graft.ops.Dedup.semanticDedup]], or a near-dup group — any
    * column whose equality means "not a valid negative".
    *
    * Same deterministic flat-quantizer ANN shape as [[ivfFlatTopK]]
    * (assign → probe nProbe cells → exact rerank, rounded cosine, lower
    * id breaks ties) with the label riding alongside the vector through
    * every stage — no join-back against the corpus, so the label filter
    * adds zero shuffles to the ANN plan. Oracle-mirrorable end-to-end.
    *
    * Scale shape: identical to [[ivfFlatTopK]] — centroids broadcast,
    * |corpus|·|C| map-side assignment, candidates bounded by the probed
    * cells; the label inequality prunes candidates BEFORE the top-k
    * window. A query whose probed cells hold only same-label vectors
    * returns fewer than k rows (mine harder cells by raising nProbe).
    * NULL labels follow SQL semantics: an unlabeled candidate (or an
    * unlabeled query) never passes the inequality — unlabeled data is
    * not a usable negative, by design; pre-fill a sentinel label if you
    * want unlabeled candidates mined.
    */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = flatCents(corpus, nCentroids, idCol, vecCol)
    val cells = flatCells(corpus, cents, idCol, vecCol, Seq(labelCol -> "neighbor_label"))
    val probes = flatProbes(queries, cents, nProbe, idCol, vecCol, Seq(labelCol -> "q_label"))
    probes
      .join(cells, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id") && col("neighbor_label") =!= col("q_label"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        col("neighbor_label"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_r"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos_r").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "neighbor_label", "cos_r")
  }

  /** Group-centroid affinity matrix: cosine similarity between the mean
    * embeddings of every pair of groups (labels, sources, domains) — the
    * corpus-level "which slices are semantically close" diagnostic that
    * drives mixture design (near-identical sources are redundant budget),
    * cross-source dedup targeting (probe similar pairs first), and label
    * confusability review. One row per unordered pair.
    *
    * Exactness: cosine is scale-invariant, so the centroid DIRECTION is
    * the per-(group, dim) SUM of integer-milli coordinates — no mean, no
    * division, no rounding policy to mirror. Sums and the dot/norm
    * products accumulate in decimal(38,0) (order-independent,
    * overflow-proof at any group size — the [[dimStats]] discipline);
    * only the final cosine touches IEEE doubles, via correctly-rounded
    * sqrt/divide, rounded to 6 places like every cosine in this file.
    *
    * Scale shape: one narrow posexplode + a (|groups|·dim)-key map-side-
    * combinable aggregate reduces the corpus; everything after runs on
    * ≤ |groups|·dim rows — the pairwise stage is an equi-join on the dim
    * position (|groups|²·dim rows by construction, groups being few),
    * never a corpus join. The tiny aggregate feeds three consumers,
    * hence the materialization.
    */
  def groupAffinity(
      embs: DataFrame,
      groupCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val d = embs
      .select(col(groupCol).as("grp"), milliVec(col(vecCol)).as("__vm"))
      .select(col("grp"), posexplode_outer(col("__vm")).as(Seq("pos", "x")))
      .filter(col("x").isNotNull)
      .groupBy("grp", "pos")
      .agg(
        sum(col("x").cast("decimal(38,0)")).as("s"),
        count(lit(1)).cast("long").as("n"))
      .localCheckpoint()
    val norms = d
      .groupBy("grp")
      .agg(sum(col("s") * col("s")).as("ss"), max("n").as("n"))
    d.as("a")
      .join(d.as("b"), col("a.pos") === col("b.pos") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("group_a"), col("b.grp").as("group_b"))
      .agg(sum(col("a.s") * col("b.s")).as("dot"))
      .join(
        norms.select(col("grp").as("group_a"), col("ss").as("ss_a"), col("n").as("n_a")),
        Seq("group_a"))
      .join(
        norms.select(col("grp").as("group_b"), col("ss").as("ss_b"), col("n").as("n_b")),
        Seq("group_b"))
      .select(
        col("group_a"),
        col("group_b"),
        col("n_a"),
        col("n_b"),
        round(
          col("dot").cast("double") /
            (sqrt(col("ss_a").cast("double")) * sqrt(col("ss_b").cast("double"))),
          6).as("cos_r"))
  }

  /** Scaled covariance cells of the milli-coordinate corpus: one row per
    * (i, j) dimension pair with `m = n·Σ(x_i·x_j) − s_i·s_j` — n² times
    * the covariance, EXACT in decimal(38,0) (no mean, no division, no FP;
    * eigen-directions are scale-invariant so the n² factor is free). The
    * input to [[pcaTopDirection]]'s power iteration.
    *
    * Scale shape: one per-row outer-product array (dim² longs) + one
    * posexplode into a dim²-key map-side-combinable aggregate — each map
    * task emits ≤ dim² cells no matter how many vectors it saw; no join,
    * the corpus is read once. The dim² row multiplier before the partial
    * aggregate is the standard Gram-matrix shape (dim 64 → 4096 cells).
    */
  private def covCells(embs: DataFrame, dim: Int, vecCol: String): DataFrame = {
    val mv = embs
      .select(milliVec(col(vecCol)).as("__vm"))
      .filter(col("__vm").isNotNull && size(col("__vm")) === dim)
      .localCheckpoint()
    val prod = mv
      .select(flatten(transform(col("__vm"), x => transform(col("__vm"), y => x * y))).as("__p"))
      .select(posexplode_outer(col("__p")).as(Seq("p2", "xy")))
      .filter(col("xy").isNotNull)
      .groupBy("p2")
      .agg(sum(col("xy").cast("decimal(38,0)")).as("sxx"))
      .select(
        expr(s"p2 div $dim").cast("int").as("i"),
        expr(s"p2 % $dim").cast("int").as("j"),
        col("sxx"))
    val sums = mv
      .select(posexplode_outer(col("__vm")).as(Seq("pos", "x")))
      .filter(col("x").isNotNull)
      .groupBy("pos")
      .agg(sum(col("x").cast("decimal(38,0)")).as("s"), count(lit(1)).cast("decimal(38,0)").as("n"))
      .localCheckpoint()
    prod
      .join(sums.select(col("pos").as("i"), col("s").as("si"), col("n")), Seq("i"))
      .join(sums.select(col("pos").as("j"), col("s").as("sj")), Seq("j"))
      .select(
        col("i"),
        col("j"),
        (col("n") * col("sxx") - col("si") * col("sj")).cast("decimal(38,0)").as("m"))
  }

  /** Driver-side integer power iteration over the collected dim² scaled
    * covariance: v₀ = all-ones micro, vₖ = trunc((M·vₖ₋₁)·10⁶ / max|·|),
    * canonical sign = first nonzero loading positive. Exact BigInt
    * arithmetic throughout (trunc division matches SQL `//` and Spark
    * `div`), so an engine unrolling the same K steps reproduces every
    * loading bit-for-bit. Returns (loadings in micro, anisotropy in ppm):
    * anisotropy = Rayleigh quotient of the final direction over the
    * trace — the share of total variance the top component carries.
    */
  private def powerIterate(cells: Array[(Int, Int, BigInt)], dim: Int, iters: Int): (Array[Long], Long) = {
    val m = Array.ofDim[BigInt](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim) m(i)(j) = BigInt(0)
    cells.foreach { case (i, j, x) => m(i)(j) = x }
    val micro = BigInt(1000000)
    var v = Array.fill(dim)(micro)
    def matvec(u: Array[BigInt]): Array[BigInt] =
      Array.tabulate(dim)(i => (0 until dim).foldLeft(BigInt(0))((acc, j) => acc + m(i)(j) * u(j)))
    for (_ <- 0 until iters) {
      val w = matvec(v)
      val mx = w.map(_.abs).max
      if (mx > 0) v = w.map(x => x * micro / mx)
    }
    val sign = v.find(_ != 0).map(x => if (x < 0) BigInt(-1) else BigInt(1)).getOrElse(BigInt(1))
    v = v.map(_ * sign)
    val w = matvec(v)
    val rayNum = (0 until dim).foldLeft(BigInt(0))((acc, i) => acc + v(i) * w(i))
    val vv = v.foldLeft(BigInt(0))((acc, x) => acc + x * x)
    val trace = (0 until dim).foldLeft(BigInt(0))((acc, i) => acc + m(i)(i))
    val ppm =
      if (vv == 0 || trace == 0) 0L
      else (rayNum * BigInt(1000000) / (vv * trace)).toLong
    (v.map(_.toLong), ppm)
  }

  /** Top principal direction + anisotropy of an embedding corpus — the
    * mode-collapse / anisotropy audit (contextual embedding spaces are
    * notoriously dominated by a single direction; an anisotropy near
    * 1e6 ppm means cosine similarity has lost its discriminative power
    * and [[removeTopComponent]] should run before any ANN/dedup stage).
    * One row per dimension: `pos`, `loading_micro` (the unit-free
    * integer direction), `anisotropy_ppm` (constant across rows — the
    * top component's share of total variance).
    *
    * The heavy part — the dim²-cell scaled covariance ([[covCells]]) —
    * is fully distributed; the power iteration itself runs on the
    * collected dim² integers at the driver (a documented
    * dimension-bounded collect, like the centroid loops) in exact BigInt
    * arithmetic, so the whole operator is engine-portable and the DuckDB
    * oracle unrolls the same K iterations to the same bits.
    */
  def pcaTopDirection(
      embs: DataFrame,
      iters: Int = 12,
      dim: Int = 64,
      vecCol: String = "embedding",
      fit: Option[(Seq[Long], Long)] = None): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val (v, ppm) = fit.getOrElse(fitTopDirection(embs, iters, dim, vecCol))
    v.zipWithIndex
      .map { case (x, i) => (i.toLong, x, ppm) }
      .toSeq
      .toDF("pos", "loading_micro", "anisotropy_ppm")
  }

  /** FIT once, apply many: the dim²-covariance collect + power iteration
    * as a reusable value (micro loadings, anisotropy ppm). Every face of
    * the family ([[pcaTopDirection]], [[removeTopComponent]],
    * [[debiasedVectors]], [[debiasedTopK]]) accepts it via its `fit`
    * parameter, so a pipeline that audits, debiases AND ranks pays the
    * covariance aggregation exactly once — the build-once discipline the
    * persisted indexes follow, applied to a driver-sized artifact.
    */
  def fitTopDirection(
      embs: DataFrame,
      iters: Int = 12,
      dim: Int = 64,
      vecCol: String = "embedding"): (Seq[Long], Long) = {
    val cells = covCells(embs, dim, vecCol).collect()
      .map(r => (r.getInt(0), r.getInt(1), BigInt(r.getDecimal(2).toBigInteger)))
    val (v, ppm) = powerIterate(cells, dim, iters)
    (v.toSeq, ppm)
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath 2018):
    * remove the dominant principal direction from every vector —
    * `x' = x − ((x·v)·v) / (v·v)` in EXACT integer arithmetic over milli
    * coordinates and the micro-unit direction from [[pcaTopDirection]]'s
    * power iteration (trunc division, engine-portable). The standard fix
    * when the anisotropy audit says one direction dominates: after
    * removal, cosine ranking reflects content again rather than the
    * common component. Returns the exploded integer face
    * (vec_id, pos, c_milli) — hashable, like `embedding_standardize`.
    *
    * Scale shape: the direction is a driver-computed literal folded into
    * codegen (the [[projectMilli]] discipline), so the rewrite is a
    * ZERO-shuffle projection: per row one dot product + one zip_with,
    * no join against anything.
    */
  def removeTopComponent(
      embs: DataFrame,
      iters: Int = 12,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fit: Option[Seq[Long]] = None): DataFrame =
    debiasedMilli(embs, iters, dim, idCol, vecCol, fit)
      .select(col("vec_id"), posexplode_outer(col("__c")).as(Seq("pos", "c_milli")))
      .filter(col("c_milli").isNotNull)
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("c_milli"))

  /** The array face of [[removeTopComponent]]: (vec_id, `__c` debiased
    * milli longs) — shared by the exploded audit face and
    * [[debiasedTopK]]'s composition.
    */
  private def debiasedMilli(
      embs: DataFrame,
      iters: Int,
      dim: Int,
      idCol: String,
      vecCol: String,
      fit: Option[Seq[Long]] = None): DataFrame = {
    val v = fit.getOrElse(fitTopDirection(embs, iters, dim, vecCol)._1)
    val vv = v.foldLeft(BigInt(0))((acc, x) => acc + BigInt(x) * x)
    require(vv > 0, "removeTopComponent: degenerate corpus (zero top direction)")
    val vvL = vv.toLong // ≤ dim·10¹² — far inside Long
    embs
      .select(col(idCol).cast("long").as("vec_id"), milliVec(col(vecCol)).as("__x"))
      .filter(col("__x").isNotNull && size(col("__x")) === dim)
      .withColumn("__v", typedLit(v))
      .withColumn(
        "__d",
        expr("aggregate(zip_with(__x, __v, (x, v) -> x * v), 0L, (acc, p) -> acc + p)"))
      .withColumn("__c", expr(s"zip_with(__x, __v, (x, v) -> x - ((__d * v) div ${vvL}L))"))
      .select(col("vec_id"), col("__c"))
  }

  /** Float reconstruction of the debiased space (`c_milli / 1000`) —
    * the feed for downstream float-vector consumers (semantic dedup, an
    * IVF index over the corrected space). The milli→float division is
    * for INDEXING, not oracle arithmetic; the exact faces are
    * [[removeTopComponent]] (exploded integers) and [[debiasedTopK]].
    */
  def debiasedVectors(
      embs: DataFrame,
      iters: Int = 12,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fit: Option[Seq[Long]] = None): DataFrame =
    debiasedMilli(embs, iters, dim, idCol, vecCol, fit)
      .select(
        col("vec_id").as(idCol),
        transform(col("__c"), x => (x.cast("double") / 1000.0).cast("float")).as(vecCol))

  /** Exact top-k in the DEBIASED space — the composition the anisotropy
    * audit motivates: [[removeTopComponent]]'s vectors ranked by exact
    * integer cosine (long dot products over milli coords, IEEE sqrt/
    * divide only at the final rounded score), so "did removal change the
    * neighbors" is answerable with a hash-checked query instead of a
    * leap of faith. `queryPred` selects the query rows from the SAME
    * corpus the direction was fit on (the debiased space is only defined
    * relative to its own fit). Zero-norm vectors (a vector that WAS the
    * common direction) drop from both sides.
    *
    * Scale shape: the debias is a zero-shuffle projection; ranking is
    * the [[bruteForceTopK]] contract — bounded query side broadcast,
    * |q|·|corpus| map-side comparisons, per-query top-k window. Compose
    * with [[signBucket]] blocking when the query side stops being small.
    */
  def debiasedTopK(
      embs: DataFrame,
      queryPred: Column,
      k: Int,
      iters: Int = 12,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fit: Option[Seq[Long]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the checkpoint sits directly on the debiased arrays: every later
    // face (norm, filter, both join sides) references __c several times,
    // and each reference to the NON-materialized debias chain makes the
    // analyzer inline another copy of its 64-literal zip_with tree —
    // measured ~6 s of DRIVER-side plan work per query on a 2000-row
    // corpus before the boundary. The norm is a row-local aggregate over
    // the checkpointed scan, cheap to carry inline past it.
    val db = debiasedMilli(embs, iters, dim, idCol, vecCol, fit)
      .localCheckpoint()
      .withColumn(
        "__n",
        sqrt(expr("aggregate(transform(__c, x -> x * x), 0L, (acc, p) -> acc + p)")
          .cast("double")))
      .filter(col("__n") > 0)
    val q = db
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("__c").as("__qc"), col("__n").as("__qn"))
    db.select(col("vec_id").as("neighbor_id"), col("__c").as("__cc"), col("__n").as("__cn"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn(
        "__dot",
        expr("aggregate(zip_with(__qc, __cc, (a, b) -> a * b), 0L, (acc, p) -> acc + p)"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(col("__dot") / (col("__qn") * col("__cn")), 6).as("cos_r"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos_r").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_r")
  }

  /** Bucketed ANN in the DEBIASED space — the scale face of
    * [[debiasedTopK]] (which is deliberately exact all-pairs, the oracle
    * baseline). A user who ran [[removeTopComponent]] BECAUSE raw cosine
    * had collapsed needs a way to rank in the corrected space that does
    * not scan the corpus per probe; this is it: sign-LSH buckets over the
    * first `bits` debiased milli coordinates (the [[signBucket]] rule
    * applied to the ABTT space — bucketing the RAW signs would be wrong,
    * the dominant component owns them), Hamming≤1 multi-probe on the
    * query side (`bits`+1 distinct buckets per query, the
    * [[projectedTopK]] recall dial), then EXACT integer cosine over the
    * full debiased vectors within candidates. All arithmetic before the
    * final rounded score is long-exact, so the oracle chains the same
    * PCA → debias → bucket → rerank and hash-matches.
    *
    * Scale shape: debias is a zero-shuffle projection (fit literal folded
    * into codegen); bucket assignment is map-side; candidates come from
    * an equi-join on bucket id — sum over probed buckets of |bucket|, not
    * |corpus| — and each (query, candidate) pair joins at most once (a
    * candidate has ONE bucket; the probe set is distinct). One per-query
    * top-k window at the end. Recall is the sign-LSH bet, dialed by
    * `bits`; [[debiasedTopK]] remains the exact baseline to audit it.
    */
  def debiasedAnnTopK(
      embs: DataFrame,
      queryPred: Column,
      k: Int,
      bits: Int = 4,
      iters: Int = 12,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fit: Option[Seq[Long]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bits >= 1 && bits < 63, s"bits must be in [1, 62], got $bits")
    val milliSign = (v: Column) =>
      (0 until bits)
        .map(i => when(get(v, lit(i)) > 0L, lit(1L << i)).otherwise(0L))
        .reduce(_ + _)
    // checkpoint directly on the debiased arrays — norm, bucket, filter,
    // and both join sides all reference __c, and every reference to a
    // NON-materialized debias chain inlines another copy of its
    // 64-literal tree at analysis time (see [[debiasedTopK]]); the norm
    // and sign bits are row-local over the checkpointed scan
    val db = debiasedMilli(embs, iters, dim, idCol, vecCol, fit)
      .localCheckpoint()
      .withColumn(
        "__n",
        sqrt(expr("aggregate(transform(__c, x -> x * x), 0L, (acc, p) -> acc + p)")
          .cast("double")))
      .filter(col("__n") > 0)
      .withColumn("__b", milliSign(col("__c")))
    val probes = (lit(0L) +: (0 until bits).map(i => lit(1L << i)))
      .map(m => col("__b").bitwiseXOR(m))
    val q = db
      .filter(queryPred)
      .select(
        col("vec_id").as("query_id"),
        col("__c").as("__qc"),
        col("__n").as("__qn"),
        explode(array(probes: _*)).as("__b"))
    db.select(col("vec_id").as("neighbor_id"), col("__c").as("__cc"), col("__n").as("__cn"), col("__b"))
      .join(q, Seq("__b"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn(
        "__dot",
        expr("aggregate(zip_with(__qc, __cc, (a, b) -> a * b), 0L, (acc, p) -> acc + p)"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(col("__dot") / (col("__qn") * col("__cn")), 6).as("cos_r"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos_r").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_r")
  }

  /** Embedding-space coverage audit: vector counts and integer ppm shares
    * per flat-quantizer cell — the diversity diagnostic run before
    * training (a cell holding most of the corpus means the embedding
    * space collapsed: duplicated content, a degenerate encoder, or a
    * crawl stuck on one site; near-uniform shares mean healthy coverage).
    * Same cell rule as [[ivfFlatTopK]], so the audit describes exactly
    * the cells the ANN index would build.
    *
    * Scale shape: centroids broadcast, assignment is map-side; the count
    * is one hash aggregation over nCentroids keys (map-side partials
    * absorb any hot cell — the hot cell is the finding, not a hazard);
    * the total is a 1-row broadcast. All integer, oracle-hashable.
    */
  def cellBalance(
      embs: DataFrame,
      nCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = flatCents(embs, nCentroids, idCol, vecCol)
    val counts = flatCells(embs, cents, idCol, vecCol)
      .groupBy("centroid_id")
      .agg(count(lit(1)).cast("long").as("n_vectors"))
    val total = counts.agg(sum("n_vectors").cast("long").as("__tot"))
    counts
      .crossJoin(broadcast(total))
      .select(
        col("centroid_id"),
        col("n_vectors"),
        expr("n_vectors * 1000000 div __tot").cast("long").as("share_ppm"))
  }

  /** Embedding-distribution drift between two corpus snapshots: per-cell
    * population shift measured in a FIXED frame — both snapshots assign
    * against the PREVIOUS snapshot's centroids, so a shift in the numbers
    * means the data moved, not the ruler (re-deriving centroids from each
    * snapshot would conflate both). The embedding-space analogue of
    * `Corpus.tokenDrift`, and the audit that catches encoder swaps,
    * crawl-mix changes, and dedup regressions between training runs
    * before they become training surprises. Same integer conventions as
    * tokenDrift: ppm shares, `drift_milli = cur_ppm * 1000 div prev_ppm`,
    * -1 when the cell had (rounded) zero previous mass.
    *
    * Scale shape: two [[cellBalance]]-style passes (centroids broadcast,
    * assignment map-side, one nCentroids-key agg each) plus a
    * full-outer join of two ≤nCentroids-row tables — the corpus is
    * scanned once per snapshot and never shuffled.
    */
  def cellDrift(
      prev: DataFrame,
      cur: DataFrame,
      nCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = flatCents(prev, nCentroids, idCol, vecCol)
    def ppm(e: DataFrame, nCol: String, pCol: String) = {
      val c = flatCells(e, cents, idCol, vecCol)
        .groupBy("centroid_id")
        .agg(count(lit(1)).cast("long").as(nCol))
      val t = c.agg(sum(nCol).cast("long").as("__tot"))
      c.crossJoin(broadcast(t))
        .select(
          col("centroid_id"),
          col(nCol),
          expr(s"$nCol * 1000000 div __tot").cast("long").as(pCol))
    }
    ppm(prev, "n_prev", "prev_ppm")
      .join(ppm(cur, "n_cur", "cur_ppm"), Seq("centroid_id"), "full_outer")
      .select(
        col("centroid_id"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        coalesce(col("prev_ppm"), lit(0L)).as("prev_ppm"),
        coalesce(col("cur_ppm"), lit(0L)).as("cur_ppm"))
      .withColumn(
        "drift_milli",
        when(col("prev_ppm") >= 1, expr("(cur_ppm * 1000) div prev_ppm"))
          .otherwise(lit(-1L))
          .cast("long"))
  }

  /** Persist the flat-quantizer IVF index: centroids (one tiny file) plus
    * the assigned corpus, the cells parquet PARTITIONED BY `centroid_id`.
    * The partitioning is the point — it turns "probe nProbe of C cells"
    * into reading nProbe/C of the index FILES, so probe jobs against a
    * billion-vector index scan only the cells they rank (see
    * [[probeIvfFlatIndex]]). Build once per corpus snapshot; probe many.
    */
  def writeIvfFlatIndex(
      corpus: DataFrame,
      path: String,
      nCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    writeIvfWith(
      flatCents(corpus, nCentroids, idCol, vecCol),
      corpus, path, "flat", nCentroids, iters = 0, idCol, vecCol)

  /** Persist a k-means IVF index: Lloyd-refined centroids
    * ([[ivfCentroids]]) plus the corpus assigned to cells, the same
    * build-once/probe-many lifecycle as the flat index and the LSH store
    * ([[graft.ops.Dedup.writeLshIndex]]). Centroids FREEZE at build time —
    * [[appendIvfIndex]] assigns new batches to the existing cells without
    * retraining (the production IVF contract: retrain = rebuild), so
    * appends never rewrite history and probes stay correct over the grown
    * store.
    */
  def writeIvfIndex(
      corpus: DataFrame,
      path: String,
      nCentroids: Int = 16,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    writeIvfWith(
      ivfCentroids(corpus, nCentroids, iters, idCol, vecCol),
      corpus, path, "kmeans", nCentroids, iters, idCol, vecCol)

  /** [[writeIvfIndex]] with the TRAIN/ADD split every corpus-scale IVF
    * deployment runs (FAISS's `train` vs `add`): the coarse quantizer
    * trains on `trainSet` — a bounded sample, yesterday's corpus, or a
    * domain snapshot — and the CELLS hold `corpus` assigned against
    * those frozen centroids. At 100 TB you cannot Lloyd over the full
    * corpus (each iteration is a corpus-wide aggregate with a
    * driver-side centroid collect); you train on a sample and bulk-load
    * the rest, exactly this face. Identical layout and probe semantics
    * to [[writeIvfIndex]]; equivalent to build-on-train + append-corpus
    * + tombstone-train + compact, minus the wasted writes (the spec pins
    * the equivalence). A `trainSet` that no longer matches the corpus
    * distribution shows up in [[indexDriftReport]] and costs probes in
    * [[autoTuneNProbe]] — the stale-quantizer audit pair.
    */
  def writeIvfIndexTrained(
      corpus: DataFrame,
      trainSet: DataFrame,
      path: String,
      nCentroids: Int = 16,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    writeIvfWith(
      ivfCentroids(trainSet, nCentroids, iters, idCol, vecCol),
      corpus, path, "kmeans", nCentroids, iters, idCol, vecCol)

  /** Shared IVF index writer: `centroids` (tiny, one file), `cells`
    * (partitioned by centroid_id — the physical layout dynamic partition
    * pruning needs at probe time), and a one-row `params` parquet (kind,
    * n_centroids, iters, dim) that [[appendIvfIndex]]/[[probeIvfIndex]]
    * validate against — a dimension mismatch would otherwise produce
    * null cosines and silently garbage ranks.
    */
  private def writeIvfWith(
      cents: DataFrame,
      corpus: DataFrame,
      path: String,
      kind: String,
      nCentroids: Int,
      iters: Int,
      idCol: String,
      vecCol: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // a full rebuild REPLACES the index and spans several directory
    // overwrites (tombstones ↔ centroids ↔ cells ↔ params): the inflight
    // marker covers the whole window — a crash mid-write leaves a store
    // probes REFUSE instead of silently mis-routing against mixed dirs,
    // and completing the rebuild (re-run) clears it. Stale tombstones
    // from a prior generation must not subtract freshly-written vectors.
    markInflight(spark, path, "writeIvfIndex")
    deleteDir(spark, s"$path/tombstones")
    val dim = cents.select(size(col("centroid"))).head().getInt(0)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    flatCells(corpus, cents, idCol, vecCol)
      .write
      .mode("overwrite")
      .partitionBy("centroid_id")
      .parquet(s"$path/cells")
    Seq((kind, nCentroids, iters, dim))
      .toDF("kind", "n_centroids", "iters", "dim")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
    clearInflight(spark, path)
  }

  /** (rows, nulls, minDim, maxDim) of a vector column in ONE aggregation
    * job — the pre-flight shared by the dim checks. A `limit(1)` probe
    * would NPE on a null leading vector (size(null) is null) and would
    * wave a mixed-dimension batch through on the strength of its first
    * row; the aggregate sees every row and the scan is column-pruned to
    * the vector column. minDim/maxDim are None when every vector is null.
    */
  private def vecDimProfile(df: DataFrame, vecCol: String): (Long, Long, Option[Int], Option[Int]) = {
    val r = df
      .agg(
        count(lit(1)).as("n"),
        sum(when(col(vecCol).isNull, 1L).otherwise(0L)).as("nulls"),
        min(size(col(vecCol))).as("dmin"),
        max(size(col(vecCol))).as("dmax"))
      .head()
    (
      r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)),
      if (r.isNullAt(3)) None else Some(r.getInt(3)))
  }

  /** Fail fast when a batch/query vector set is null-bearing, mixed-width,
    * or differs from the index's build dimension (recorded in `params`;
    * indexes written before params existed are rejected too — rebuild
    * them). An EMPTY batch/query set has no dimension to check (and must
    * not crash a streaming ingest) — downstream work on zero rows is a
    * no-op.
    */
  private def requireIvfDim(df: DataFrame, path: String, vecCol: String): Unit = {
    val stored = df.sparkSession.read.parquet(s"$path/params")
      .select("dim").head().getInt(0)
    val (n, nulls, dmin, dmax) = vecDimProfile(df, vecCol)
    if (n == 0) return
    require(nulls == 0, s"IVF caller passed $nulls null vectors in '$vecCol' (of $n rows)")
    require(
      dmin == dmax,
      s"IVF caller passed mixed vector widths in '$vecCol': ${dmin.get}..${dmax.get}")
    require(
      dmin.contains(stored),
      s"IVF index at $path was built over $stored-dim vectors, caller passed ${dmin.get}-dim")
  }

  /** Grow a persisted IVF index (flat or k-means) with a new batch:
    * assign against the FROZEN stored centroids, append to the
    * partitioned cells — no retraining, no history rewrite, the same
    * grow-in-place shape as [[graft.ops.Dedup.appendLshIndex]].
    */
  def appendIvfIndex(
      batch: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    requireNotInflight(batch.sparkSession, path) // crashed retrain: refuse, never land
    requireIvfDim(batch, path, vecCol)
    val cents = batch.sparkSession.read.parquet(s"$path/centroids")
    flatCells(batch, cents, idCol, vecCol)
      .write
      .mode("append")
      .partitionBy("centroid_id")
      .parquet(s"$path/cells")
  }

  /** `true` when `dir` exists on the session's filesystem (local or
    * cluster FS — the streaming ingests key their train-vs-append branch
    * on the persisted store, not on the batch id, so an empty first
    * micro-batch cannot leave the index permanently untrained).
    */
  private[ops] def storeExists(spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursively delete `dir` if it exists (no-op otherwise) — the retrain
    * and compaction primitive: a retraining ingest must remove the WHOLE
    * stale data subtree (every `batch_id=N` dir from a prior stream, any
    * `centroid_id=*` layout from a batch build), because parquet overwrite
    * of one partition dir leaves sibling dirs — vectors assigned under the
    * OLD quantizer — for every future probe to silently mix in.
    */
  private[ops] def deleteDir(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** One micro-batch of STREAMING IVF maintenance (the foreachBatch body
    * of [[graft.streaming.AnnIngest.ivfIngest]]). Training fires when
    * this is batch 0 (a FRESH stream pointed at the path retrains and
    * overwrites any stale index — re-pointing semantics) OR when no
    * params exist yet (so an EMPTY leading batch, which no-ops entirely,
    * does not permanently consume the training slot: the first non-empty
    * batch trains instead). Every batch assigns its vectors against the
    * frozen centroids and lands under its own `cells/batch_id=N`
    * directory with overwrite semantics, so a checkpoint-retried batch
    * rewrites itself instead of duplicating. Cells carry
    * (batch_id, centroid_id) directory keys; [[probeIvfIndex]] reads
    * them unchanged and still prunes on centroid_id. One driver
    * round-trip per batch: the emptiness, null-vector, and dimension
    * checks share a single aggregation ([[vecDimProfile]]). When the
    * training branch fires over an existing store, the whole stale data
    * subtree (`cells/` and any tombstones) is deleted first — a retrain
    * must really REPLACE the index, or probes would silently mix vectors
    * assigned under the old quantizer with the new one.
    */
  def ingestIvfBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      nCentroids: Int = 16,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val (n, nulls, dmin, dmax) = vecDimProfile(batch, vecCol)
    if (batchId == 0L || !storeExists(spark, s"$path/params")) {
      // The WIPE runs before the empty check (the StoreLifecycle rule): an
      // empty batch 0 must still retire a previous run's store, or batch 1
      // would assign against the dead run's quantizer. The quantizer
      // TRAINING needs content, so it defers to the first non-empty batch
      // — params come down too, so that batch re-enters this branch.
      deleteDir(spark, s"$path/cells")
      deleteDir(spark, s"$path/tombstones")
      clearInflight(spark, path)
      deleteDir(spark, s"$path/centroids")
      deleteDir(spark, s"$path/params")
      if (n == 0) return
      require(nulls == 0, s"IVF ingest batch $batchId carries $nulls null '$vecCol' vectors (of $n rows)")
      require(
        dmin == dmax,
        s"IVF ingest batch $batchId carries mixed vector widths: ${dmin.get}..${dmax.get}")
      val cents = ivfCentroids(batch, nCentroids, iters, idCol, vecCol)
      val dim = cents.select(size(col("centroid"))).head().getInt(0)
      cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      Seq(("kmeans-stream", nCentroids, iters, dim))
        .toDF("kind", "n_centroids", "iters", "dim")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/params")
    } else {
      if (n == 0) return // nothing to assign
      // a crashed retrain's mixed cells/centroids must not be assigned
      // against and LANDED — the same refusal probeIvfIndex applies
      requireNotInflight(spark, path)
      require(nulls == 0, s"IVF ingest batch $batchId carries $nulls null '$vecCol' vectors (of $n rows)")
      require(
        dmin == dmax,
        s"IVF ingest batch $batchId carries mixed vector widths: ${dmin.get}..${dmax.get}")
      val stored = spark.read.parquet(s"$path/params").select("dim").head().getInt(0)
      require(
        dmin.contains(stored),
        s"IVF index at $path was built over $stored-dim vectors, batch carries ${dmin.get}-dim")
    }
    val cents = spark.read.parquet(s"$path/centroids")
    flatCells(batch, cents, idCol, vecCol)
      .write
      .mode("overwrite")
      .partitionBy("centroid_id")
      .parquet(s"$path/cells/batch_id=$batchId")
  }

  /** Tombstone ids out of a persisted index at `path` (IVF, PQ, or LSH —
    * the tombstone store is index-kind-agnostic): appends the id set to
    * `$path/tombstones`, which every probe subtracts before ranking. A
    * tombstoned id never appears in top-k / pair output again regardless
    * of which batch or append wrote it — including rows appended AFTER
    * the delete; re-inserting a deleted id requires compaction first
    * ([[compactIvfIndex]]/[[compactPqIndex]]), which physically drops the
    * rows and clears the tombstones. This is the GDPR-delete/retraction
    * face of the lifecycle: the delete itself is metadata-only (one tiny
    * parquet append — no 100 TB index rewrite on the removal path);
    * space reclamation is deferred to compaction.
    */
  def deleteFromIndex(ids: DataFrame, path: String, idCol: String = "vec_id"): Unit =
    ids
      .select(col(idCol).cast("long").as("del_id"))
      .distinct()
      .coalesce(1)
      .write.mode("append").parquet(s"$path/tombstones")

  /** Subtract tombstoned ids from an index-side table (no-op when no
    * tombstones exist): a left-anti equi-join on the id column. The
    * tombstone side is small by construction (deletes are events, the
    * index is the corpus), so AQE broadcasts it and the index side never
    * shuffles for the subtraction.
    */
  private[ops] def minusTombstones(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      df: DataFrame,
      idColName: String): DataFrame =
    if (storeExists(spark, s"$path/tombstones"))
      df.join(
        spark.read.parquet(s"$path/tombstones")
          .select(col("del_id").cast(df.schema(idColName).dataType).as(idColName)),
        Seq(idColName),
        "left_anti")
    else df

  /** Whole-file UTF-8 write of a small store pin/stamp (bucket pins,
    * exactly-once stamps, fold points) — one place for the plain-FS-file
    * discipline (a 1-row parquet would cost a Spark job per lifecycle
    * call, the [[markInflight]] lesson).
    */
  private[ops] def writeSmallFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Whole-file UTF-8 read of a small pin/stamp — drains fully (the FS
    * contract allows short reads; a truncated stamp would misdirect the
    * exactly-once decision, the [[inflightOp]] lesson).
    */
  private[ops] def readSmallFile(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** A live dir missing with a COMPLETE `.compacting` twin (its
    * `_SUCCESS` is the completeness witness) rolls forward; any other
    * tmp is pre-swap garbage. The [[rewriteDir]] window cleaner shared
    * by the store repairs.
    */
  private[ops] def rollForwardOrDrop(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir.compacting")
    if (fs.exists(tmp)) {
      if (!fs.exists(live) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir.compacting/_SUCCESS")))
        require(fs.rename(tmp, live), s"rolling forward $tmp -> $live failed")
      else fs.delete(tmp, true)
    }
  }

  /** Rewrite `dir` with the (materialized) content of `df` via a
    * tmp-dir + rename swap: the new generation lands completely in
    * `<dir>.compacting` before the old tree is dropped, so a crashed
    * compaction leaves the live index untouched (re-run to finish).
    */
  private[ops] def rewriteDir(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      dir: String,
      partitionCols: Seq[String]): Unit = {
    val tmp = s"$dir.compacting"
    deleteDir(spark, tmp)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp)
    deleteDir(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(tmp)
    require(
      src.getFileSystem(conf).rename(src, new org.apache.hadoop.fs.Path(dir)),
      s"compaction rename $tmp -> $dir failed")
  }

  /** Shared compaction kernel for one data subtree of a persisted index:
    * read every generation under `$path/$sub` (base build, appends,
    * `batch_id=N` ingest dirs), subtract tombstones, drop the `batch_id`
    * lineage column if present, and [[rewriteDir]]-swap the consolidated
    * result back in place.
    */
  private[ops] def compactIndexDir(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      sub: String,
      idColName: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val raw = spark.read.parquet(s"$path/$sub")
    val live = minusTombstones(spark, path, raw, idColName)
    if (raw.columns.contains("batch_id"))
      // A STREAM-maintained subtree stays batch-keyed after compaction:
      // everything folds into ONE synthetic generation, `batch_id=-1`
      // (real micro-batch ids are >= 0, so a resumed stream never
      // collides with it). Folding to a FLAT layout instead would make
      // the next ingest batch's `batch_id=N` dir sit beside plain files /
      // `centroid_id=*` dirs and break partition discovery — compaction
      // must be safe MID-stream, not only at end-of-life.
      rewriteDir(
        spark,
        live.withColumn("batch_id", lit(-1L)),
        s"$path/$sub",
        "batch_id" +: partitionCols)
    else rewriteDir(spark, live, s"$path/$sub", partitionCols)
  }

  private[ops] def clearTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    deleteDir(spark, s"$path/tombstones")

  /** Crash INTENT marker for multi-directory rewrites: a retrain/rebuild
    * that tmp-and-swaps several subtrees writes `$path/inflight` before
    * its FIRST swap and clears it after the LAST, so the degraded window
    * (each directory readable but the set mutually inconsistent — new
    * codes under an old codebook, new postings under an old df) is
    * DETECTABLE: probes and drift audits [[requireNotInflight]] and
    * refuse instead of silently mis-scoring. A crash before the first
    * swap leaves the store untouched with a stale marker; re-running the
    * interrupted retrain (or a full write) clears it either way.
    *
    * The marker is a PLAIN FILE holding the op name (one driver-side FS
    * `create`, ~ms), NOT a Spark write: a 1-row parquet job costs a full
    * job-schedule + commit round (~hundreds of ms per lifecycle call,
    * measured round 15) and leaves the first swap unprotected for that
    * long. [[requireNotInflight]] still reads the round-14 1-row-parquet
    * directory form, so stores marked by an older binary stay detectable.
    */
  private[ops] def markInflight(
      spark: org.apache.spark.sql.SparkSession, path: String, op: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/inflight")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a re-run over a crashed legacy (directory-form) marker must replace
    // it — create(overwrite) only replaces FILES
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.delete(p, true)
    val out = fs.create(p, true)
    try out.write(op.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[ops] def clearInflight(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    deleteDir(spark, s"$path/inflight") // recursive: clears file and legacy dir forms alike

  /** Refuse to read a store whose last multi-directory rewrite never
    * finished — the [[markInflight]] contract's read side. One FS
    * existence check per call; the marker's stored op name is read only
    * on the failure path (plain-file form, with the legacy 1-row-parquet
    * directory form still honored).
    */
  /** The stored op name of a pending [[markInflight]] marker, or None —
    * the read half the self-repairing mutators ([[graft.ops.Graph]]'s
    * store family) share with [[requireNotInflight]]. Honors both the
    * plain-file form and the legacy round-14 1-row-parquet directory
    * form.
    */
  private[ops] def inflightOp(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/inflight")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isDirectory)
      Some(spark.read.parquet(s"$path/inflight").head().getString(0))
    else {
      // drain fully: the FS contract allows short reads, and a
      // truncated op name would misdirect the re-run instruction
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream(256)
        val chunk = new Array[Byte](256)
        var n = in.read(chunk)
        while (n >= 0 && buf.size < 4096) {
          buf.write(chunk, 0, n)
          n = in.read(chunk)
        }
        Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private[ops] def requireNotInflight(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    inflightOp(spark, path).foreach { op =>
      throw new IllegalStateException(
        s"index at $path has an interrupted '$op' rewrite (inflight marker present) — " +
          s"its directories may be mutually inconsistent; re-run $op to completion " +
          "(or rebuild the store) before probing")
    }

  /** Compact a persisted IVF index: fold every generation — the base
    * build, [[appendIvfIndex]] appends, and all `cells/batch_id=N` dirs a
    * streaming ingest accumulated — into ONE consolidated cell tree
    * (batch-built: partitioned by `centroid_id`; stream-built: one
    * `batch_id=-1` generation so later ingest batches keep a consistent
    * layout), physically dropping tombstoned
    * vectors, then clear the tombstones. Probe results are unchanged by
    * contract (asserted probe-before ≡ probe-after in the spec and the
    * `similarity_topk_ivf_compacted` oracle row); what changes is the
    * file census: a long-running stream's thousands of small per-batch
    * cell files (every one of which each probe must open) collapse back
    * to one file set per cell. Centroids and params are untouched —
    * compaction reorganizes storage, it never re-assigns.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    compactIndexDir(spark, path, "cells", "neighbor_id", Seq("centroid_id"))
    clearTombstones(spark, path)
  }

  /** Compact a persisted PQ index — the compressed-domain twin of
    * [[compactIvfIndex]]: all `codes/batch_id=N` generations fold into
    * one consolidated code table with tombstoned vectors dropped and the
    * tombstones cleared. Codebook and params freeze as ever.
    */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    compactIndexDir(spark, path, "codes", "vec_id")
    clearTombstones(spark, path)
  }

  // ---- composed IVF-PQ index (coarse cells + compressed codes) ----

  /** Persist the COMPOSED IVF-PQ index — the production big-ANN layout
    * (FAISS's IVFADC shape, residual-free variant): an integer-stabilized
    * k-means coarse quantizer routes vectors to cells, and within the
    * store each vector is only its `m`-byte PQ code — so a probe touches
    * `nProbe/nCentroids` of the corpus AND reads ~`m` bytes per touched
    * vector instead of `dim` floats. Layout: `centroids/` (coarse),
    * `codebook/` (global PQ, trained on the corpus under the flat seed
    * rule), `codes/` partitioned by `centroid_id` (dynamic partition
    * pruning drops unprobed cells at the scan), one-row `params`. Both
    * quantizers FREEZE at build: [[appendIvfPqIndex]] assigns + encodes
    * new batches against them, retrain = rebuild (PQ codes are lossy —
    * see [[retrainPqIndex]] for why a code-only store cannot retrain
    * itself). Tombstones ([[deleteFromIndex]]) and [[compactIvfPqIndex]]
    * complete the standard lifecycle.
    */
  def writeIvfPqIndex(
      corpus: DataFrame,
      path: String,
      nCentroids: Int = 16,
      iters: Int = 3,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    writeIvfPqWith(corpus, corpus, path, nCentroids, iters, m, ksub, dim, idCol, vecCol)

  /** [[writeIvfPqIndex]] with the TRAIN/ADD split on BOTH quantizers —
    * the composed twin of [[writeIvfIndexTrained]]: the coarse k-means
    * chain AND the PQ codebook seeds derive from `trainSet` (a bounded
    * sample or snapshot), while `codes/` holds the full `corpus` encoded
    * and cell-routed against those frozen quantizers. At 100 TB a Lloyd
    * iteration is a corpus-wide aggregate and the codebook seed collect
    * is a corpus sort — both belong on a sample; the one full-corpus
    * pass left is the assign+encode write, which any build must pay.
    * Identical layout, params, and probe semantics to the untrained
    * build; a `trainSet` drifting from the corpus shows up in
    * [[indexDriftReport]] and costs probes in [[autoTuneNProbeIvfPq]].
    */
  def writeIvfPqIndexTrained(
      corpus: DataFrame,
      trainSet: DataFrame,
      path: String,
      nCentroids: Int = 16,
      iters: Int = 3,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    writeIvfPqWith(corpus, trainSet, path, nCentroids, iters, m, ksub, dim, idCol, vecCol)

  private def writeIvfPqWith(
      corpus: DataFrame,
      trainSet: DataFrame,
      path: String,
      nCentroids: Int,
      iters: Int,
      m: Int,
      ksub: Int,
      dim: Int,
      idCol: String,
      vecCol: String): Unit = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val spark = corpus.sparkSession
    import spark.implicits._
    // the full build rewrites every subtree: marker up before the first
    // overwrite, cleared after the last — a crash mid-way is REFUSED by
    // probes, never silently probed as new-codes-under-old-codebook
    markInflight(spark, path, "writeIvfPqIndex")
    deleteDir(spark, s"$path/tombstones")
    val cents = ivfCentroids(trainSet, nCentroids, iters, idCol, vecCol)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val cb = pqCodebook(trainSet, m, dim / m, ksub, idCol, vecCol)
    cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    // one encode pass (localCheckpoint) feeds the cell-routed codes AND
    // the drift baseline — the writePqIndex discipline
    val enc = pqEncode(corpus, cb, m, dim / m, idCol, vecCol).localCheckpoint()
    enc
      .join(
        flatCells(corpus, cents, idCol, vecCol)
          .select(col("neighbor_id").as("vec_id"), col("centroid_id")),
        Seq("vec_id"))
      .select("vec_id", "subspace", "code", "centroid_id")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$path/codes")
    writePqErrBase(spark, path, enc, m)
    Seq(("ivfpq", nCentroids, iters, m, ksub, dim))
      .toDF("kind", "n_centroids", "iters", "m", "ksub", "dim")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
    clearInflight(spark, path)
  }

  /** Cell-routed PQ codes `(vec_id, subspace, code, centroid_id)` — the
    * encode kernel shared by the IVF-PQ build and append.
    */
  private def encodeToCells(
      vecs: DataFrame,
      cents: DataFrame,
      cb: DataFrame,
      m: Int,
      subDim: Int,
      idCol: String,
      vecCol: String): DataFrame =
    pqEncode(vecs, cb, m, subDim, idCol, vecCol)
      .join(
        flatCells(vecs, cents, idCol, vecCol)
          .select(col("neighbor_id").as("vec_id"), col("centroid_id")),
        Seq("vec_id"))
      .select("vec_id", "subspace", "code", "centroid_id")

  private def requireIvfPqParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      m: Int,
      ksub: Int,
      dim: Int): Unit = {
    val p = spark.read.parquet(s"$path/params").select("m", "ksub", "dim").head()
    val stored = (p.getInt(0), p.getInt(1), p.getInt(2))
    require(
      stored == ((m, ksub, dim)),
      s"IVF-PQ index at $path was built with (m, ksub, dim) = $stored, " +
        s"caller passed (${m}, ${ksub}, ${dim})")
  }

  /** Fail fast when batch/query VECTORS are null-bearing, mixed-width, or
    * off the stored dimension — without this, [[pqEncode]]'s subspace
    * slices go empty and the integer distance loop truncates to the
    * shorter array, so a 32-dim vector against a 64-dim index silently
    * encodes as code 0 everywhere (the [[requireIvfDim]] argument, IVF-PQ
    * edition; empty inputs pass — zero rows do zero work).
    */
  private def requireIvfPqDim(df: DataFrame, path: String, vecCol: String): Unit = {
    val stored = df.sparkSession.read.parquet(s"$path/params").select("dim").head().getInt(0)
    val (n, nulls, dmin, dmax) = vecDimProfile(df, vecCol)
    if (n == 0) return
    require(nulls == 0, s"IVF-PQ caller passed $nulls null vectors in '$vecCol' (of $n rows)")
    require(
      dmin == dmax,
      s"IVF-PQ caller passed mixed vector widths in '$vecCol': ${dmin.get}..${dmax.get}")
    require(
      dmin.contains(stored),
      s"IVF-PQ index at $path was built over $stored-dim vectors, caller passed ${dmin.get}-dim")
  }

  /** Grow a persisted IVF-PQ index: assign + encode the batch against the
    * FROZEN coarse centroids and codebook, append its codes.
    */
  def appendIvfPqIndex(
      batch: DataFrame,
      path: String,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    requireNotInflight(spark, path) // crashed retrain: refuse, never land
    requireIvfPqParams(spark, path, m, ksub, dim)
    requireIvfPqDim(batch, path, vecCol)
    encodeToCells(
      batch,
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/codebook"),
      m, dim / m, idCol, vecCol)
      .write.mode("append").partitionBy("centroid_id").parquet(s"$path/codes")
  }

  /** Probe a persisted IVF-PQ index: rank each query's `nProbe` cells
    * against the coarse centroids, then ADC-score ONLY the codes in those
    * cells — the probe side joins the codes on their PARTITION column
    * with a broadcast, so dynamic partition pruning drops every unprobed
    * cell's files at the scan, and each touched candidate costs `m`
    * integer lookups, never a `dim`-wide float loop. Ranking contract as
    * [[pqTopK]] (ascending exact-integer ADC distance, neighbor id ties);
    * tombstoned ids subtracted before scoring.
    */
  def probeIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    requireNotInflight(spark, path)
    requireIvfPqParams(spark, path, m, ksub, dim)
    requireIvfPqDim(queries, path, vecCol)
    val cents = spark.read.parquet(s"$path/centroids")
    val cb = spark.read.parquet(s"$path/codebook")
    val probes = flatProbes(queries, cents, nProbe, idCol, vecCol)
      .select("query_id", "centroid_id")
    val codes = minusTombstones(spark, path, spark.read.parquet(s"$path/codes"), "vec_id")
    adcTail(
      codes
        .join(broadcast(probes), Seq("centroid_id"))
        .filter(col("query_id") =!= col("vec_id"))
        .join(broadcast(pqDistTable(queries, cb, m, dim / m, idCol, vecCol)),
          Seq("query_id", "subspace", "code")),
      k)
  }

  /** Compact a persisted IVF-PQ index: fold append generations, drop
    * tombstoned codes physically, clear the tombstones — probe results
    * unchanged by contract.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    compactIndexDir(spark, path, "codes", "vec_id", Seq("centroid_id"))
    clearTombstones(spark, path)
  }

  /** One micro-batch of STREAMING IVF-PQ maintenance (the foreachBatch
    * body of [[graft.streaming.AnnIngest.ivfPqIngest]]) — the composed
    * twin of [[ingestIvfBatch]]/[[ingestPqBatch]] with the same training
    * contract: batch 0 (or the first non-empty batch, when leading
    * batches were empty) trains BOTH quantizers and replaces any stale
    * store (whole `codes/` subtree + tombstones die first); every batch
    * assigns + encodes against the frozen quantizers and lands under
    * `codes/batch_id=N` (partitioned by `centroid_id` within) with
    * overwrite semantics — checkpoint-retried batches rewrite themselves.
    * [[probeIvfPqIndex]] reads the grown store unchanged and still prunes
    * unprobed cells at the scan.
    */
  def ingestIvfPqBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      nCentroids: Int = 16,
      iters: Int = 3,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val spark = batch.sparkSession
    import spark.implicits._
    val (n, nulls, dmin, dmax) = vecDimProfile(batch, vecCol)
    def requireCleanBatch(): Unit = {
      require(nulls == 0, s"IVF-PQ ingest batch $batchId carries $nulls null '$vecCol' vectors (of $n rows)")
      require(
        dmin == dmax,
        s"IVF-PQ ingest batch $batchId carries mixed vector widths: ${dmin.get}..${dmax.get}")
      require(
        dmin.contains(dim),
        s"IVF-PQ ingest batch $batchId carries ${dmin.get}-dim vectors, caller declared dim=$dim")
    }
    val trainedHere = batchId == 0L || !storeExists(spark, s"$path/params")
    if (trainedHere) {
      // Wipe BEFORE the empty check (the StoreLifecycle rule); both
      // quantizers need content to train, so they defer to the first
      // non-empty batch — params come down too, so that batch re-claims.
      deleteDir(spark, s"$path/codes")
      deleteDir(spark, s"$path/tombstones")
      clearInflight(spark, path)
      deleteDir(spark, s"$path/centroids")
      deleteDir(spark, s"$path/codebook")
      deleteDir(spark, s"$path/errbase")
      deleteDir(spark, s"$path/params")
      if (n == 0) return
      requireCleanBatch()
      ivfCentroids(batch, nCentroids, iters, idCol, vecCol)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      pqCodebook(batch, m, dim / m, ksub, idCol, vecCol)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
      Seq(("ivfpq-stream", nCentroids, iters, m, ksub, dim))
        .toDF("kind", "n_centroids", "iters", "m", "ksub", "dim")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/params")
    } else {
      if (n == 0) return // nothing to encode
      requireNotInflight(spark, path) // crashed retrain: refuse, never land
      requireCleanBatch()
      requireIvfPqParams(spark, path, m, ksub, dim)
    }
    val cbStored = spark.read.parquet(s"$path/codebook")
    val encRaw = pqEncode(batch, cbStored, m, dim / m, idCol, vecCol)
    // only the training claim needs the encode twice (codes + baseline)
    val enc = if (trainedHere) encRaw.localCheckpoint() else encRaw
    enc
      .join(
        flatCells(batch, spark.read.parquet(s"$path/centroids"), idCol, vecCol)
          .select(col("neighbor_id").as("vec_id"), col("centroid_id")),
        Seq("vec_id"))
      .select("vec_id", "subspace", "code", "centroid_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("centroid_id")
      .parquet(s"$path/codes/batch_id=$batchId")
    // the training batch IS the codebook's training set: its encode is
    // the drift baseline (frozen across later appends)
    if (trainedHere) writePqErrBase(spark, path, enc, m)
  }

  /** ACT on the drift signal: rebuild a persisted IVF index's quantizer
    * from the LIVE index content — tombstone-subtracted cell vectors,
    * never the original corpus, which at 100 TB may no longer be
    * materialized anywhere else — and re-assign every live vector to the
    * new cells in one lifecycle-safe op. The quantizer retrains under
    * the index's own recorded params (`flat` seeds, or the stored-iters
    * Lloyd loop for k-means kinds), so probe-after-retrain is
    * hash-identical to a clean [[writeIvfIndex]] over the live vector
    * set (the `similarity_topk_ivf_retrained` oracle row). Valid
    * MID-stream: a stream-built store keeps its batch-keyed layout
    * (everything folds to the synthetic `batch_id=-1` generation, as
    * compaction does), so the next ingest batch lands beside it
    * cleanly. Both subtrees rewrite via the compaction tmp-and-swap
    * (cells first, then the centroids), so every directory stays
    * READABLE at every instant; the live snapshot is materialized up
    * front so the swaps cannot pull the rug from under their own input.
    * A crash (or a concurrent probe) BETWEEN the two swaps sees new
    * cells under the old quantizer — degraded candidate selection, never
    * an unreadable index — until the retrain is re-run. Idempotent under
    * crash-rerun: every output derives from cell CONTENT, not from the
    * centroids being replaced, so re-running after any partial failure
    * converges to the same index.
    */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = spark.read.parquet(s"$path/params")
      .select("kind", "n_centroids", "iters").head()
    val (kind, nCentroids, iters) = (p.getString(0), p.getInt(1), p.getInt(2))
    val cellsRaw = spark.read.parquet(s"$path/cells")
    val hasBatchDirs = cellsRaw.columns.contains("batch_id")
    val live = minusTombstones(spark, path, cellsRaw, "neighbor_id")
      .select(col("neighbor_id").as("vec_id"), col("cv").as("embedding"))
      .localCheckpoint()
    val cents =
      if (kind == "flat") flatCents(live, nCentroids, "vec_id", "embedding").localCheckpoint()
      else ivfCentroids(live, nCentroids, iters, "vec_id", "embedding")
    val cells = flatCells(live, cents, "vec_id", "embedding")
    markInflight(spark, path, "retrainIvfIndex") // cells ↔ centroids window
    if (hasBatchDirs)
      rewriteDir(
        spark,
        cells.withColumn("batch_id", lit(-1L)),
        s"$path/cells",
        Seq("batch_id", "centroid_id"))
    else rewriteDir(spark, cells, s"$path/cells", Seq("centroid_id"))
    rewriteDir(spark, cents.coalesce(1), s"$path/centroids", Nil)
    // retrain physically dropped the tombstoned vectors with everything
    // else it re-assigned: spent tombstones must die, or they would
    // suppress a future re-insert of the same id
    clearTombstones(spark, path)
    clearInflight(spark, path)
  }

  /** CLOSE the drift→retrain loop: measure [[indexDriftReport]], retrain
    * only when the measured drift crosses the caller's threshold, and
    * return the decision as a 1-row report — the conditional face an
    * unattended ingest loop calls after every batch (SCALE.md's "retrain
    * on sustained drift" prose, now executable). The decision statistic
    * is the TOTAL VARIATION distance between the index's and the batch's
    * cell-population distributions, `tv_milli = Σ|index_ppm − batch_ppm|
    * div 2000` (0 = identical populations, 1000 = disjoint) — a weighted
    * whole-distribution score, deliberately NOT the max per-cell ratio,
    * which any sparse batch trips by leaving cells untouched. Returns
    * `(n_cells, tv_milli, threshold_milli, retrained)`; below threshold
    * the store is untouched (byte-for-byte — the spec pins it), above it
    * [[retrainIvfIndex]] runs, so the store afterwards hash-equals a
    * clean [[writeIvfIndex]] over the live content. Retry contract:
    * below-threshold calls are pure reads (re-run at will); an
    * interrupted retrain leaves each directory readable but the pair
    * mixed — and DETECTED: the [[markInflight]] marker written before
    * the first swap makes this face (via [[indexDriftReport]]) and every
    * probe refuse the mixed store; re-run [[retrainIvfIndex]] directly
    * to completion, which clears it.
    *
    * Scale shape: the decision adds one ≤|cells|-row aggregate and a
    * driver-side 1-row collect on top of the audit — nothing beyond
    * [[indexDriftReport]]'s cost unless the rebuild actually runs.
    */
  def retrainIvfIfDrifted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      thresholdMilli: Long = 300L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(
      thresholdMilli >= 0L && thresholdMilli <= 1000L,
      s"retrainIvfIfDrifted: threshold is a TV distance in [0, 1000] milli, got $thresholdMilli")
    import spark.implicits._
    // an idle micro-batch carries no drift signal: report "not measured"
    // (n_cells 0) and no-op rather than inherit indexDriftReport's
    // fail-fast — this face IS the unattended loop's every-batch call
    if (batch.isEmpty)
      return Seq((0L, 0L, thresholdMilli, false))
        .toDF("n_cells", "tv_milli", "threshold_milli", "retrained")
    // 1-row bounded collect (the decision itself), never data-volume
    val d = indexDriftReport(spark, path, batch, idCol, vecCol)
      .agg(
        count(lit(1)).cast("long").as("n_cells"),
        sum(abs(col("index_ppm") - col("batch_ppm"))).cast("long").as("l1_ppm"))
      .head()
    val nCells = d.getLong(0)
    val tvMilli = d.getLong(1) / 2000L
    val retrained = tvMilli > thresholdMilli
    if (retrained) retrainIvfIndex(spark, path)
    Seq((nCells, tvMilli, thresholdMilli, retrained))
      .toDF("n_cells", "tv_milli", "threshold_milli", "retrained")
  }

  /** The compressed-domain retrain — with one honest difference from
    * [[retrainIvfIndex]]: PQ codes are LOSSY, so the index content alone
    * cannot train a new codebook (training on decoded reconstructions
    * compounds quantization error — the known re-encode anti-pattern).
    * The caller supplies the full-precision `corpus` (the system of
    * record the index derives from); the op takes the LIVE id set from
    * the index (tombstones subtracted), pulls exactly those vectors via
    * a semi-join, retrains the codebook under the stored (m, ksub, dim),
    * re-encodes, and tmp-and-swaps BOTH the code table and the codebook
    * (codes first — each dir stays readable at every instant; a crash
    * between the two swaps leaves new codes under the old codebook,
    * which would mis-score — the [[markInflight]] marker written before
    * the first swap makes probes refuse until this retrain is re-run to
    * completion, which clears it). Fails fast if
    * the corpus is missing any live id — checked by ANTI-JOIN on the id
    * sets, not by row counts, so duplicate corpus rows cannot mask a
    * hole — or if it carries duplicate rows for a live id (which would
    * encode twice). Stream-built stores keep their batch-keyed layout
    * (`batch_id=-1` fold), so the op is valid mid-stream.
    */
  def retrainPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val p = spark.read.parquet(s"$path/params").select("m", "ksub", "dim").head()
    val (m, ksub, dim) = (p.getInt(0), p.getInt(1), p.getInt(2))
    val codesRaw = spark.read.parquet(s"$path/codes")
    val hasBatchDirs = codesRaw.columns.contains("batch_id")
    val liveIds = minusTombstones(spark, path, codesRaw, "vec_id")
      .select("vec_id").distinct().localCheckpoint()
    val live = corpus
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
      .join(liveIds, Seq("vec_id"), "left_semi")
      .localCheckpoint()
    val nMissing = liveIds.join(live.select("vec_id"), Seq("vec_id"), "left_anti").count()
    require(
      nMissing == 0,
      s"retrainPqIndex: corpus is missing $nMissing live index ids — " +
        "a missing vector would silently drop from the retrained index")
    val (nLive, nIds) = (live.count(), liveIds.count())
    require(
      nLive == nIds,
      s"retrainPqIndex: corpus carries duplicate rows for live ids ($nLive rows, $nIds ids) — " +
        "a duplicate would encode twice")
    requirePqDim(live, dim, "embedding", "retrainPqIndex")
    val cb = pqCodebook(live, m, dim / m, ksub, "vec_id", "embedding").localCheckpoint()
    val enc = pqEncode(live, cb, m, dim / m, "vec_id", "embedding").localCheckpoint()
    val codes = enc.select("vec_id", "subspace", "code")
    markInflight(spark, path, "retrainPqIndex") // codes ↔ codebook window
    if (hasBatchDirs)
      rewriteDir(spark, codes.withColumn("batch_id", lit(-1L)), s"$path/codes", Seq("batch_id"))
    else rewriteDir(spark, codes, s"$path/codes", Nil)
    rewriteDir(spark, cb.coalesce(1), s"$path/codebook", Nil)
    // the retrained codebook gets a fresh drift ruler: its own training
    // set's reconstruction error
    writePqErrBase(spark, path, enc, m)
    clearTombstones(spark, path)
    clearInflight(spark, path)
  }

  /** CLOSE the codebook-drift→retrain loop — [[retrainIvfIfDrifted]]'s
    * compressed-domain twin, the face an unattended embedding pipeline
    * calls after every batch, because the PQ codebook is the index whose
    * recall decays SILENTLY (appends encode against the frozen codebook;
    * nothing else notices when new vectors stopped fitting it). The
    * decision statistic is reconstruction-error INFLATION: encode the
    * batch under the stored codebook, take its mean per-vector ADC error
    * (integer milli², [[pqErrAgg]]), and compare against the store's
    * `errbase` — the error the codebook delivered on its own TRAINING
    * set ([[writePqErrBase]]) — as `inflation_ppm = 10⁶·batch_err div
    * max(base_err, 1)`. Parity is 10⁶ (batch quantizes exactly as well
    * as the training data did); the default 1.5·10⁶ threshold retrains
    * when the batch's error runs 1.5× the training error. Unlike
    * [[retrainIvfIfDrifted]] this face REQUIRES the full-precision
    * `corpus` (the system of record): PQ codes are lossy, so an
    * above-threshold decision can only act through
    * [[retrainPqIndex]]'s corpus contract — the IVF conditional
    * self-retrains because its cells store full vectors; a codebook
    * cannot be retrained from its own reconstructions. Returns
    * `(n_batch, base_err, batch_err, inflation_ppm, threshold_ppm,
    * retrained)`; an idle batch reports a "not measured" no-op row
    * (n_batch 0, retrained false) so an unattended loop survives an
    * empty trigger. Below threshold the store is untouched
    * (byte-for-byte — the spec pins it); above it the store afterwards
    * content-equals a clean [[writePqIndex]] over the live corpus. A
    * pre-baseline store (built before errbase existed) is backfilled
    * first from the corpus' live vectors under the STORED codebook —
    * an approximation of the training-time ruler (post-append live
    * content includes any already-drifted vectors), correct from the
    * next retrain on.
    *
    * Scale shape: the decision costs one batch encode (map-side
    * broadcast join, |batch|·m rows) folded to 1 row plus a 1-row
    * collect; nothing beyond [[retrainPqIndex]]'s cost unless the
    * retrain actually runs.
    */
  def retrainPqIfDrifted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      corpus: DataFrame,
      thresholdPpm: Long = 1500000L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    codebookDriftDecision(spark, path, batch, corpus, thresholdPpm, idCol, vecCol,
      "retrainPqIfDrifted")(retrainPqIndex(spark, path, corpus, idCol, vecCol))

  /** [[retrainPqIfDrifted]] for the COMPOSED IVF-PQ store — the same
    * codebook-drift statistic over the same global codebook (the coarse
    * quantizer plays no part in reconstruction error: qdist is
    * subspace-local), acting through [[retrainIvfPqIndex]], which
    * retrains BOTH quantizers — a batch whose codebook no longer fits
    * has usually outgrown the cell layout too. Same contract end to
    * end: `errbase` ruler frozen across appends, idle-batch "not
    * measured" no-op, pre-baseline backfill, byte-for-byte no-op below
    * threshold, store ≡ clean [[writeIvfPqIndex]] above it.
    */
  def retrainIvfPqIfDrifted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      corpus: DataFrame,
      thresholdPpm: Long = 1500000L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    codebookDriftDecision(spark, path, batch, corpus, thresholdPpm, idCol, vecCol,
      "retrainIvfPqIfDrifted")(retrainIvfPqIndex(spark, path, corpus, idCol, vecCol))

  /** The ONE codebook-drift decision kernel behind [[retrainPqIfDrifted]]
    * and [[retrainIvfPqIfDrifted]] (both store kinds carry `codebook`,
    * `codes`, `errbase`, and (m, ksub, dim) params — only the ACTION
    * differs): measure, compare, act, report.
    */
  private def codebookDriftDecision(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      corpus: DataFrame,
      thresholdPpm: Long,
      idCol: String,
      vecCol: String,
      what: String)(retrain: => Unit): DataFrame = {
    require(
      thresholdPpm >= 1000000L,
      s"$what: inflation parity is 10^6 ppm; a threshold below it " +
        s"($thresholdPpm) would retrain on noise")
    import spark.implicits._
    // a crashed store must not be measured — checked BEFORE the idle
    // early-return, so an unattended loop whose stream went quiet still
    // hears about the incident instead of reading healthy no-op rows
    requireNotInflight(spark, path)
    // an idle micro-batch carries no drift signal: report "not measured"
    // and no-op — this face IS the unattended loop's every-batch call
    if (batch.isEmpty)
      return Seq((0L, 0L, 0L, 0L, thresholdPpm, false))
        .toDF("n_batch", "base_err", "batch_err", "inflation_ppm", "threshold_ppm", "retrained")
    val p = spark.read.parquet(s"$path/params").select("m", "ksub", "dim").head()
    val (m, dim) = (p.getInt(0), p.getInt(2))
    val cb = spark.read.parquet(s"$path/codebook")
    if (!storeExists(spark, s"$path/errbase")) {
      // pre-baseline store: backfill the ruler from the live corpus
      // under the stored codebook (see scaladoc caveat)
      val liveIds = minusTombstones(spark, path, spark.read.parquet(s"$path/codes"), "vec_id")
        .select("vec_id").distinct()
      val live = corpus
        .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
        .join(liveIds, Seq("vec_id"), "left_semi")
      writePqErrBase(spark, path, pqEncode(live, cb, m, dim / m, "vec_id", "embedding"), m)
    }
    val baseErr = spark.read.parquet(s"$path/errbase").select("err_q").head().getLong(0)
    // a wrong-dim batch would zip-truncate to a DEFLATED error and mask
    // the very drift this face measures — fail fast instead
    requirePqDim(batch, dim, vecCol, what)
    // 1-row bounded collect (the decision itself), never data-volume
    val b = pqErrAgg(pqEncode(batch, cb, m, dim / m, idCol, vecCol), m).head()
    val (batchErr, nBatch) = (b.getLong(0), b.getLong(1))
    val inflation = (BigInt(1000000) * batchErr / BigInt(baseErr.max(1L))).toLong
    val retrained = inflation > thresholdPpm
    if (retrained) retrain
    Seq((nBatch, baseErr, batchErr, inflation, thresholdPpm, retrained))
      .toDF("n_batch", "base_err", "batch_err", "inflation_ppm", "threshold_ppm", "retrained")
  }

  /** Retrain the COMPOSED IVF-PQ index — both quantizers at once, the op
    * [[writeIvfPqIndex]]'s "retrain = rebuild" contract promises. PQ
    * codes are lossy, so like [[retrainPqIndex]] the caller supplies the
    * full-precision system-of-record `corpus`; the live id set comes from
    * the index (tombstones subtracted), exactly those vectors are pulled
    * by semi-join (fail-fast by anti-join on missing ids, and on
    * duplicate corpus rows that would encode twice), the coarse k-means
    * AND the PQ codebook retrain under the stored params, and every live
    * vector is re-routed + re-encoded. Swap order: codes first, then
    * codebook, then centroids (each dir stays readable at every instant;
    * a crash between swaps leaves new codes under stale quantizers —
    * the [[markInflight]] marker makes probes refuse until the retrain
    * is re-run to completion). Stream-built stores keep their
    * batch-keyed layout (`batch_id=-1` fold), so the op is valid
    * mid-stream; spent tombstones are cleared with the rewrite.
    * Idempotent under crash-rerun: every output derives from the live id
    * set + corpus, not from the artifacts being replaced.
    */
  def retrainIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val p = spark.read.parquet(s"$path/params")
      .select("n_centroids", "iters", "m", "ksub", "dim").head()
    val (nCentroids, iters, m, ksub, dim) =
      (p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3), p.getInt(4))
    val codesRaw = spark.read.parquet(s"$path/codes")
    val hasBatchDirs = codesRaw.columns.contains("batch_id")
    val liveIds = minusTombstones(spark, path, codesRaw, "vec_id")
      .select("vec_id").distinct().localCheckpoint()
    val live = corpus
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
      .join(liveIds, Seq("vec_id"), "left_semi")
      .localCheckpoint()
    val nMissing = liveIds.join(live.select("vec_id"), Seq("vec_id"), "left_anti").count()
    require(
      nMissing == 0,
      s"retrainIvfPqIndex: corpus is missing $nMissing live index ids — " +
        "a missing vector would silently drop from the retrained index")
    val (nLive, nIds) = (live.count(), liveIds.count())
    require(
      nLive == nIds,
      s"retrainIvfPqIndex: corpus carries duplicate rows for live ids ($nLive rows, $nIds ids) — " +
        "a duplicate would encode twice")
    val cents = ivfCentroids(live, nCentroids, iters, "vec_id", "embedding")
    val cb = pqCodebook(live, m, dim / m, ksub, "vec_id", "embedding").localCheckpoint()
    val enc = pqEncode(live, cb, m, dim / m, "vec_id", "embedding").localCheckpoint()
    val codes = enc
      .join(
        flatCells(live, cents, "vec_id", "embedding")
          .select(col("neighbor_id").as("vec_id"), col("centroid_id")),
        Seq("vec_id"))
      .select("vec_id", "subspace", "code", "centroid_id")
    markInflight(spark, path, "retrainIvfPqIndex") // codes ↔ codebook ↔ centroids window
    if (hasBatchDirs)
      rewriteDir(
        spark,
        codes.withColumn("batch_id", lit(-1L)),
        s"$path/codes",
        Seq("batch_id", "centroid_id"))
    else rewriteDir(spark, codes, s"$path/codes", Seq("centroid_id"))
    rewriteDir(spark, cb.coalesce(1), s"$path/codebook", Nil)
    rewriteDir(spark, cents.coalesce(1), s"$path/centroids", Nil)
    // the retrained codebook gets a fresh drift ruler
    writePqErrBase(spark, path, enc, m)
    clearTombstones(spark, path)
    clearInflight(spark, path)
  }

  /** Persisted-index freshness/census audit — the operational dashboard
    * row the ingest loop watches, combining [[indexDriftReport]]'s
    * fixed-ruler drift signal with the storage census compaction acts on.
    * One row per centroid cell: live vector count (`n_index`, tombstones
    * subtracted), how many ingest generations contribute to the cell
    * (`n_batches` — distinct `batch_id` dirs; 1 for a batch-built or
    * freshly compacted index), the probe batch's assignment (`n_batch`),
    * ppm shares of both, and `drift_milli` (batch share / index share ×
    * 1000; -1 when the cell had no rounded index mass). High `n_batches`
    * says COMPACT; sustained extreme `drift_milli` says RETRAIN (a
    * rebuild by contract — appends never retrain).
    *
    * Scale shape: one aggregation over the (already partitioned) cells
    * pruned to its key columns, one over the batch assignment with the
    * centroids broadcast, a ≤nCentroids-row full-outer join — the
    * historical corpus vectors never move.
    */
  def annIndexAudit(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(!batch.isEmpty, "annIndexAudit: empty batch has no drift signal")
    requireIvfDim(batch, path, vecCol)
    val cents = spark.read.parquet(s"$path/centroids")
    val cellsRaw = spark.read.parquet(s"$path/cells")
    val hasBatchDirs = cellsRaw.columns.contains("batch_id")
    val idx = minusTombstones(spark, path, cellsRaw, "neighbor_id")
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).cast("long").as("n_index"),
        (if (hasBatchDirs) countDistinct(col("batch_id")) else max(lit(1L)))
          .cast("long").as("n_batches"))
    val idxTot = idx.agg(sum("n_index").cast("long").as("__ti"))
    val b = flatCells(batch, cents, idCol, vecCol)
      .groupBy("centroid_id")
      .agg(count(lit(1)).cast("long").as("n_batch"))
    val bTot = b.agg(sum("n_batch").cast("long").as("__tb"))
    idx
      .crossJoin(broadcast(idxTot))
      .join(b.crossJoin(broadcast(bTot)), Seq("centroid_id"), "full_outer")
      .select(
        col("centroid_id"),
        coalesce(col("n_index"), lit(0L)).as("n_index"),
        coalesce(col("n_batches"), lit(0L)).as("n_batches"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(expr("n_index * 1000000 div __ti"), lit(0L)).cast("long").as("index_ppm"),
        coalesce(expr("n_batch * 1000000 div __tb"), lit(0L)).cast("long").as("batch_ppm"))
      .withColumn(
        "drift_milli",
        when(col("index_ppm") >= 1, expr("(batch_ppm * 1000) div index_ppm"))
          .otherwise(lit(-1L))
          .cast("long"))
  }

  /** Measured recall@k — the dial every production ANN deployment tunes
    * FIRST: what fraction of the exact top-k does the approximate probe
    * actually return at the configured nProbe/bits? [[annIndexAudit]]
    * reports census + quantizer drift (is the index stale?); this reports
    * result quality (is the probe good enough?). Takes the two top-k
    * tables directly — any ANN face (IVF, PQ, IVF-PQ, sign-LSH,
    * projected) against [[bruteForceTopK]] over the same corpus — so one
    * comparator audits the whole family. Hits match on (query_id,
    * neighbor_id): rank agreement is NOT required (two engines may order
    * equal-cosine neighbors differently below the measured contract), set
    * membership is. One row per query: `n_exact` (≤ k — small corpora and
    * label filters can undershoot), `n_hit`, `recall_milli = 1000·n_hit
    * div n_exact`.
    *
    * Scale shape: both inputs are |queries|·k rows — already orders below
    * the corpus — so this is one equi-join plus one map-side-combinable
    * aggregate; the corpus itself never moves through the audit.
    */
  def annRecallAudit(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"recall@k needs k >= 1, got $k")
    val ex = exact
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val ap = approx
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).cast("long").as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
      .withColumn("recall_milli", expr("(1000 * n_hit) div n_exact").cast("long"))
  }

  /** The NDCG@k position weights as INTEGER micro literals —
    * `round(10⁶ / log2(rank + 1))` computed ONCE driver-side, so no
    * engine `log`/float ever enters a plan or an oracle: both sides
    * consume the same pinned integers and the whole metric stays
    * hash-exact (the Benford-expectations move applied to ranking).
    */
  def ndcgWeightsMicro(k: Int): Seq[Long] = {
    require(k >= 1 && k <= 100, s"ndcg weights support k in [1, 100], got $k")
    (1 to k).map(r => Math.round(1e6 / (Math.log(r + 1.0) / Math.log(2.0))))
  }

  /** Order-aware ranking quality — MRR and NDCG@k — the dial
    * [[annRecallAudit]] deliberately ignores (recall is set-membership;
    * two probes with equal recall can rank the true best neighbor first
    * vs last). Binary relevance: `truth` is the per-query relevant set
    * (e.g. the exact top-k), `approx` the ranked results `(query_id,
    * rank, neighbor_id)`. Per query: `n_truth`, `first_hit_rank` (null
    * when nothing relevant surfaced), `mrr_micro = 10⁶ div
    * first_hit_rank` (0 on a miss), `dcg_micro = Σ_hits W(rank)` and
    * `ndcg_ppm = 10⁶·dcg div idcg` with `W` the [[ndcgWeightsMicro]]
    * pinned integers and `idcg` the best-possible prefix sum at
    * `min(n_truth, k)` — so every number is integer-exact and
    * oracle-hashable. A query with an empty truth set reports
    * `ndcg_ppm` null (no ideal exists), not a fabricated 0; a query
    * present in truth with ZERO probe rows (the degenerate probe) still
    * reports a row — first_hit_rank null, mrr 0, dcg 0, ndcg 0 — the
    * full-outer contract.
    *
    * Scale shape: both inputs are |queries|·k rows; one equi-join + one
    * map-side-combinable aggregate; the weights ride as an O(1)-indexed
    * literal array (never a literal map — the element_at linear-scan
    * trap).
    */
  def rankingAudit(approx: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val wts = ndcgWeightsMicro(k)
    val cum = wts.scanLeft(0L)(_ + _).tail // cumulative ideal prefix sums
    val wArr = array(wts.map(lit): _*)
    val cArr = array(cum.map(lit): _*)
    val tr = truth.select(col("query_id"), col("neighbor_id")).distinct()
    val nt = tr.groupBy("query_id").agg(count(lit(1)).cast("long").as("n_truth"))
    val perQ = approx
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("neighbor_id"))
      .join(tr.withColumn("__rel", lit(1L)), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        min(when(col("__rel").isNotNull, col("rank"))).cast("long").as("first_hit_rank"),
        coalesce(
          sum(when(col("__rel").isNotNull, element_at(wArr, col("rank")))),
          lit(0L)).cast("long").as("dcg_micro"))
    // FULL outer: a query present in truth with ZERO probe rows is the
    // degenerate probe an audit exists to surface — it reports
    // first_hit_rank null / mrr 0 / dcg 0 / ndcg 0 instead of vanishing
    perQ
      .join(nt, Seq("query_id"), "full")
      .withColumn("__nt", coalesce(col("n_truth"), lit(0L)))
      .withColumn("__dcg", coalesce(col("dcg_micro"), lit(0L)))
      .withColumn(
        "__idcg",
        when(col("__nt") > 0, element_at(cArr, least(col("__nt"), lit(k.toLong)).cast("int"))))
      .select(
        col("query_id"),
        col("__nt").as("n_truth"),
        col("first_hit_rank"),
        coalesce(expr("1000000 div first_hit_rank"), lit(0L)).cast("long").as("mrr_micro"),
        col("__dcg").as("dcg_micro"),
        expr("CAST((1000000 * __dcg) div __idcg AS BIGINT)").as("ndcg_ppm"))
  }

  /** Simplified (centroid-based) silhouette audit of a flat coarse
    * quantizer — "how cleanly do the cells separate": per vector,
    * `a` = squared L2 to its OWN (nearest) centroid and `b` = squared L2
    * to the runner-up, `s_ppm = 10⁶·(b − a) div max(a, b)` — the
    * centroid variant of Rousseeuw 1987 (pairwise-mean silhouette is
    * O(n²); against centroids it is the standard large-scale
    * simplification, and with own = argmin it reads in [0, 10⁶]: low
    * mean = blurry cell boundaries, the re-train smell
    * [[ivfCellDrift]] can't see because populations alone look fine).
    * Exact integers end-to-end: milli vectors, native long squared
    * distances ([[graft.functions.SquaredDistanceLong]]), trunc-div
    * ppm; duplicate centroids that tie a vector at distance 0 read
    * null (max(a,b) = 0 — degenerate, not "perfectly separated").
    * Centroids are the FLAT seed (`id < nCentroids`, the
    * [[ivfFlatTopK]] contract) so the audit is deterministic and
    * hash-checkable end-to-end. Output per cell:
    * `(centroid_id, n, mean_s_ppm, min_s_ppm)`.
    *
    * Scale shape: one |corpus|·nCentroids broadcast cross join (the
    * [[ivfFlatTopK]] assign envelope), ONE rank-2 window per vector
    * over its nCentroids-bounded candidate rows, one map-side cell
    * aggregate.
    */
  def silhouetteAudit(
      corpus: DataFrame,
      nCentroids: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nCentroids >= 2, s"silhouette needs >= 2 centroids, got $nCentroids")
    val c = corpus.select(col(idCol).cast("long").as("vec_id"), milliVec(col(vecCol)).as("vm"))
    val cents = c
      .filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("centroid_id"), col("vm").as("cm"))
    val ranked = c
      .crossJoin(broadcast(cents))
      .withColumn("d2", graft.functions.functions.l2sq_long(col("vm"), col("cm")))
      .withColumn(
        "rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("vec_id")
            .orderBy(col("d2"), col("centroid_id"))))
      .filter(col("rn") <= 2)
    ranked
      .groupBy("vec_id")
      .agg(
        min(when(col("rn") === 1, col("centroid_id"))).as("centroid_id"),
        min(when(col("rn") === 1, col("d2"))).as("a"),
        min(when(col("rn") === 2, col("d2"))).as("b"))
      .withColumn(
        "s_ppm",
        expr("CAST(CASE WHEN greatest(a, b) > 0 THEN (1000000 * (b - a)) div greatest(a, b) END AS BIGINT)"))
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).cast("long").as("n"),
        expr("CAST(sum(s_ppm) div count(s_ppm) AS BIGINT)").as("mean_s_ppm"),
        min(col("s_ppm")).as("min_s_ppm"))
  }

  /** Rank-biased overlap at depth k (Webber, Moffat & Zobel 2010) — "do
    * two RANKINGS agree", the comparison [[rankingAudit]] can't do
    * (NDCG needs a relevance truth set; RBO compares two rankers
    * head-to-head — exact vs probed, yesterday's index vs today's):
    * `RBO@k = Σ_{d=1..k} (1−p)p^{d−1} · |A_d ∩ B_d| / d`, top-weighted
    * by the persistence parameter (p = 0.9 ≈ the top 10 carry ~86% of
    * the weight). Integer-exact by the contribution flip: a doc in
    * both lists first co-appears at depth `m = max(rank_a, rank_b)`
    * and contributes `Σ_{d=m..k} w_d/d` — a DRIVER-literal ppm array
    * indexed by m (BigDecimal-computed, identical in the oracle), so
    * the whole metric is one equi-join + one map-side aggregate, no
    * per-depth window. Truncated lower-bound form (mass beyond k
    * unassigned): identical prefixes read ~p-truncated 10⁶·(1−p^k)
    * mass, disjoint lists 0. Queries with no shared docs still report
    * (left join from A's query set). Output:
    * `(query_id, n_overlap, rbo_ppm)`.
    */
  def rankOverlapAudit(
      a: DataFrame,
      b: DataFrame,
      k: Int,
      pMilli: Int = 900): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(pMilli >= 1 && pMilli <= 999, s"pMilli must be in [1, 999], got $pMilli")
    // W(m) = round(10^6 Σ_{d=m..k} (1-p) p^(d-1) / d), exact BigDecimal
    val p = BigDecimal(pMilli) / 1000
    val wd = (1 to k).map(d => (1 - p) * p.pow(d - 1) / d)
    val wArr = (1 to k)
      .map(m => (wd.drop(m - 1).sum * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    def side(df: DataFrame, tag: String) =
      df.filter(col("rank") <= k)
        .select(
          col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("long").as(s"rank_$tag"))
    val matches = side(a, "a")
      .join(side(b, "b"), Seq("query_id", "neighbor_id"))
      .select(
        col("query_id"),
        element_at(array(wArr.map(lit): _*), greatest(col("rank_a"), col("rank_b")).cast("int"))
          .as("w"))
      .groupBy("query_id")
      .agg(
        count(lit(1)).cast("long").as("n_overlap"),
        sum(col("w")).cast("long").as("rbo_ppm"))
    side(a, "a")
      .select("query_id")
      .distinct()
      .join(matches, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("rbo_ppm"), lit(0L)).as("rbo_ppm"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-retrieval combiner: given per-source rankings
    * `(source, query_id, doc_id, rank)`, each document scores
    * `Σ_sources 1_000_000 div (rrfK + rank)` and the top `k` per query
    * survive. RRF is rank-only (score scales never meet), so a lexical
    * BM25 list and a dense-ANN list fuse without calibration — the
    * production hybrid-search shape. Integer ppm contributions keep the
    * fused score engine-portable and hashable. A (source, query, doc)
    * triple listed more than once keeps its BEST (minimum) rank first —
    * duplicate postings must not double-vote. Ties break by fused score
    * desc, more sources first, then doc_id asc. Output:
    * `(query_id, rank, doc_id, score_ppm, n_sources, best_rank)`.
    *
    * Scale shape: two map-side-combinable aggregates (dedup to
    * per-source best rank, then fuse per (query, doc)) + ONE window over
    * the per-query candidate grain — bounded by Σ per-source list
    * lengths, never the corpus; no joins, no explode.
    */
  def rrfFuse(
      rankings: DataFrame,
      k: Int = 10,
      rrfK: Int = 60,
      queryCol: String = "query_id",
      docCol: String = "doc_id",
      rankCol: String = "rank",
      sourceCol: String = "source"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rrfK >= 0, s"rrfK must be >= 0, got $rrfK")
    import org.apache.spark.sql.expressions.Window
    val fused = rankings
      .select(
        col(sourceCol).as("__src"),
        col(queryCol).cast("long").as("query_id"),
        col(docCol).cast("long").as("doc_id"),
        col(rankCol).cast("long").as("__rank"))
      .groupBy("__src", "query_id", "doc_id")
      .agg(min(col("__rank")).as("__best"))
      .groupBy("query_id", "doc_id")
      .agg(
        sum(expr(s"1000000 div (${rrfK.toLong} + __best)")).cast("long").as("score_ppm"),
        count(lit(1)).cast("long").as("n_sources"),
        min(col("__best")).as("best_rank"))
    fused
      .withColumn(
        "rank",
        row_number().over(
          Window
            .partitionBy("query_id")
            .orderBy(
              col("score_ppm").desc,
              col("n_sources").desc,
              col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("int").as("rank"),
        col("doc_id"),
        col("score_ppm"),
        col("n_sources"),
        col("best_rank"))
  }

  /** Recall@k of a PERSISTED IVF index's probe at `nProbe` against exact
    * brute force over the index's own LIVE content (tombstones
    * subtracted) — the per-index face of [[annRecallAudit]]: feed it a
    * bounded, deterministic query sample (seeded id selection keeps the
    * audit oracle-hashable) and read the recall the configured nProbe
    * actually delivers on THIS index. nProbe ≥ the centroid count makes
    * the probe exhaustive, so recall_milli = 1000 for every query — the
    * calibration point the spec pins.
    *
    * Scale shape: the probe side is [[probeIvfIndex]] (partition-pruned
    * cells); the exact side is one |sample|×|live| scan — the price of
    * ground truth, bounded by keeping the sample small (tens of queries
    * audit an index; the corpus is never self-joined).
    */
  def ivfRecallAudit(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val live = minusTombstones(spark, path, spark.read.parquet(s"$path/cells"), "neighbor_id")
      .select(col("neighbor_id").as(idCol), col("cv").as(vecCol))
    annRecallAudit(
      probeIvfIndex(spark, path, queries, k, nProbe, idCol, vecCol),
      bruteForceTopK(queries, live, k, idCol, vecCol),
      k)
  }

  /** Recall@k of the COMPOSED IVF-PQ probe ([[probeIvfPqIndex]]) — the
    * face where BOTH approximations stack: cell pruning can drop a true
    * neighbor's cell AND coded distances can misrank within a probed
    * cell, so the composed recall is the number a production IVFADC
    * deployment actually ships, and is ≤ either stage's recall alone
    * ([[ivfRecallAudit]] measures pruning only, the flat ADC audit
    * coding only). PQ codes are lossy, so ground truth needs the caller's
    * full-precision `corpus` (the [[retrainPqIndex]] system-of-record
    * contract): exact brute force runs over corpus restricted to the
    * index's LIVE id set (tombstones subtracted), through the
    * [[annRecallAudit]] comparator. nProbe ≥ the cell count AND a
    * codebook fine enough to preserve the exact ranking make the probe
    * exhaustive — recall_milli = 1000, the calibration point the spec
    * pins.
    *
    * Scale shape: probe side prunes to nProbe cells with ADC lookups;
    * exact side is one |sample|×|live| scan — the audit price, bounded by
    * a small deterministic query sample (tens of queries audit an index;
    * the corpus is never self-joined).
    */
  def ivfPqRecallAudit(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val liveIds = minusTombstones(spark, path, spark.read.parquet(s"$path/codes"), "vec_id")
      .select("vec_id").distinct()
    val live = corpus
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .join(liveIds.withColumnRenamed("vec_id", idCol), Seq(idCol), "left_semi")
    annRecallAudit(
      probeIvfPqIndex(spark, path, queries, k, nProbe, m, ksub, dim, idCol, vecCol),
      bruteForceTopK(queries, live, k, idCol, vecCol),
      k)
  }

  /** CLOSE the ANN parameter loop — [[ivfRecallAudit]] measures what a
    * GIVEN nProbe delivers; this picks the SMALLEST nProbe that meets a
    * caller's recall target, so the knob is driven by the SLO instead of
    * folklore: a store whose quantizer no longer fits the corpus (stale
    * after drift) needs more cells probed for the same recall, and the
    * tuner finds that out instead of a dashboard reader. Recall here is
    * the micro-average over the query sample (`1000·Σ n_hit div
    * Σ n_exact` — one integer, deterministic). Correctness of the search:
    * per-query recall is MONOTONE non-decreasing in nProbe — a true
    * top-k neighbor returned at nProbe = p is still a candidate at p+1,
    * and only globally-closer vectors (themselves true top-k) can rank
    * above it — so "smallest passing nProbe" is well-defined and binary
    * search applies. nProbe = nCentroids is exhaustive (recall 1000 by
    * construction), so the target is always reachable; the `exhaustive`
    * flag still reports honestly. Returns ONE row: `(n_centroids,
    * n_probe, recall_milli, target_milli, n_queries, exhaustive,
    * candidates_scored, n_rungs)` — `candidates_scored` is the
    * (query, candidate) pairs the probe exact-scores at the chosen
    * nProbe, so the SLO loop reports what the recall COSTS, not just
    * that it passed; `n_rungs` the distinct rungs the search read off
    * the curve (the ladder's probe count, had each rung been probed).
    * `nProbeHint` >= 1 warm-starts the search (seed a drifted
    * store's tuner from its fresh sibling's `n_probe` — a perfect hint
    * closes in two rungs instead of re-climbing the ladder).
    * `exactTopK` shares a caller-materialized [[bruteForceTopK]] ground
    * truth across SEVERAL tuner calls — valid only when the stores'
    * LIVE sets match this store's (the fresh-vs-stale audit and the
    * [[autoTuneIvfBuild]] ladder both tune over one corpus, so the
    * expensive scan needn't repeat per store); omit it and the tuner
    * derives its own.
    *
    * Scale shape: the exact baseline (one |sample|×|live| scan — the
    * ground-truth price, bounded by a small deterministic sample) feeds
    * ONE aggregation that reads the whole recall curve
    * ([[flatRecallCurve]]: each true neighbour's cell rank in its
    * query's centroid order, grouped by rank — at most nCentroids + 1
    * rows to the driver); the ladder then replays on the driver over
    * that curve, and one candidate count at the winning nProbe prices
    * it. No probe runs per rung.
    */
  def autoTuneNProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      targetRecallMilli: Long = 950L,
      nProbeHint: Int = 0,
      exactTopK: Option[DataFrame] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(
      targetRecallMilli >= 1 && targetRecallMilli <= 1000,
      s"targetRecallMilli must be in [1, 1000], got $targetRecallMilli")
    val (q, cells, centsArr, nCent, exact) =
      flatTuneInputs(spark, path, queries, k, exactTopK, idCol, vecCol)
    val (nQueries, curve) = flatRecallCurve(q, exact, cells, centsArr, nCent, k, idCol, vecCol)
    nProbeSearch(
      spark, nCent, targetRecallMilli, nQueries, curve,
      ivfCandidateCount(q, centsArr, cells, idCol, vecCol),
      nProbeHint)
  }

  /** The recall curve of a persisted flat IVF store at EVERY nProbe in
    * 0..nCentroids (`curve(p)` = micro recall_milli of
    * [[probeIvfIndex]] at p against exact brute force over the live
    * set) — the one aggregation [[autoTuneNProbe]] searches over,
    * exposed so specs can hold it to the per-p audit.
    */
  private[graft] def ivfRecallCurve(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): IndexedSeq[Long] = {
    val (q, cells, centsArr, nCent, exact) =
      flatTuneInputs(spark, path, queries, k, None, idCol, vecCol)
    flatRecallCurve(q, exact, cells, centsArr, nCent, k, idCol, vecCol)._2
  }

  /** Validation and the store reads a flat tune needs, each paid once:
    * the checkpointed query sample (read by the ground truth, the curve
    * and the candidate count), the live cells, the centroid literal with
    * its count, and the exact top-k (the caller's shared one, or derived
    * over the live set).
    */
  private def flatTuneInputs(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      exactTopK: Option[DataFrame],
      idCol: String,
      vecCol: String): (DataFrame, DataFrame, Column, Int, DataFrame) = {
    requireNotInflight(spark, path)
    requireIvfDim(queries, path, vecCol)
    val cells = minusTombstones(spark, path, spark.read.parquet(s"$path/cells"), "neighbor_id")
    val q = queries.localCheckpoint()
    val (centsArr, nCent) = centArray(spark.read.parquet(s"$path/centroids"))
    // read once by the curve aggregation: no checkpoint
    val exact = exactTopK.getOrElse(bruteForceTopK(
      q, cells.select(col("neighbor_id").as(idCol), col("cv").as(vecCol)), k, idCol, vecCol))
    (q, cells, centsArr, nCent, exact)
  }

  /** Micro recall@k of the flat IVF probe at EVERY nProbe from ONE
    * aggregation: `(n_queries, curve)` with `curve(p)` for p in
    * 0..nCent. Closed form: the probe reranks its candidates by exact
    * rounded cosine under [[bruteForceTopK]]'s total order (`cos_r`
    * desc, `neighbor_id` asc), so every candidate that outranks a true
    * top-k neighbour t is itself a true top-k neighbour — fewer than k
    * of them — and t is in the probe's top-k at p EXACTLY when t's cell
    * ranks <= p in the query's centroid order. So each exact row gets
    * its cell's rank (exact ⋈ cells on the id, ⋈ the query's full
    * centroid ranking), the rows group by rank, and the driver takes
    * the cumulative sum. A neighbour with no live cell (a caller's
    * ground truth over another live set) has no rank and never counts
    * as a hit — as no probe could return it. `n_queries` rides in the
    * same aggregation: every query of a [[rank]]ed top-k has exactly
    * one rank-1 row. Not valid for ADC-scored probes (see
    * [[autoTuneNProbeIvfPq]]).
    */
  private def flatRecallCurve(
      q: DataFrame,
      exact: DataFrame,
      cells: DataFrame,
      centsArr: Column,
      nCent: Int,
      k: Int,
      idCol: String,
      vecCol: String): (Long, IndexedSeq[Long]) = {
    val cellRank = q.select(
      col(idCol).as("query_id"),
      posexplode_outer(topCentroids(col(vecCol), centsArr, nCent)).as(Seq("cell_pos", "centroid_id")))
    val byRank = exact
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .join(cells.select("neighbor_id", "centroid_id"), Seq("neighbor_id"), "left")
      .join(cellRank, Seq("query_id", "centroid_id"), "left")
      .groupBy("cell_pos")
      .agg(
        count(lit(1)).cast("long").as("n"),
        count(when(col("rank") === 1, true)).cast("long").as("nq"))
      .collect()
    val nExact = byRank.map(_.getLong(1)).sum
    val hits = new Array[Long](nCent + 1) // hits(p): neighbours whose cell ranks exactly p
    byRank.filterNot(_.isNullAt(0)).foreach(r => hits(r.getInt(0) + 1) += r.getLong(1))
    (1 to nCent).foreach(p => hits(p) += hits(p - 1))
    (byRank.map(_.getLong(2)).sum,
      hits.toIndexedSeq.map(h => if (nExact == 0L) 1000L else (1000L * h) / nExact))
  }

  /** [[autoTuneNProbe]] for the COMPOSED IVF-PQ store — the same SLO-driven
    * minimal-nProbe search over [[probeIvfPqIndex]], where BOTH
    * approximations stack: more cells can only add candidates, and a true
    * top-k neighbor's ADC distance is fixed, so composed recall stays
    * monotone in nProbe and the search remains valid — but it may never
    * reach a high target (coding error misranks WITHIN probed cells;
    * exhaustive probing does not undo it), so the exhaustive row reports
    * the honest ceiling instead of looping. PQ codes are lossy: ground
    * truth needs the caller's full-precision `corpus` restricted to the
    * live id set (the [[ivfPqRecallAudit]] contract). Search kernel
    * and output shape shared with the flat tuner (one oracle-checked
    * kernel, two probe faces), but this face keeps the per-rung ladder
    * ([[auditedNProbeSearch]]: one probe, audit and 1-row decision read
    * per rung): the flat tuner's closed-form curve needs the probe to
    * rank candidates in the exact top-k's own order, and ADC distances
    * misrank within a cell, so a true neighbour whose cell is probed
    * can still be pushed out of the top-k.
    */
  def autoTuneNProbeIvfPq(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      targetRecallMilli: Long = 950L,
      nProbeHint: Int = 0,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(
      targetRecallMilli >= 1 && targetRecallMilli <= 1000,
      s"targetRecallMilli must be in [1, 1000], got $targetRecallMilli")
    requireNotInflight(spark, path)
    requireIvfPqParams(spark, path, m, ksub, dim)
    val cents = spark.read.parquet(s"$path/centroids")
    val nCent = cents.count().toInt
    requireIvfPqDim(queries, path, vecCol)
    val codes = minusTombstones(spark, path, spark.read.parquet(s"$path/codes"), "vec_id")
    val liveIds = codes.select("vec_id").distinct()
    val live = corpus
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .join(liveIds.withColumnRenamed("vec_id", idCol), Seq(idCol), "left_semi")
    val q = queries.localCheckpoint()
    // store reads, query validation, and the query-side ADC distance
    // table are rung-invariant: build them once, probe many (the flat
    // tuner's discipline) — only the probed-cell set varies with p
    val centsArr = centArrayLit(cents)
    val dtab = pqDistTable(q, spark.read.parquet(s"$path/codebook"), m, dim / m, idCol, vecCol)
      .localCheckpoint()
    auditedNProbeSearch(
      spark, q, live, k, targetRecallMilli, nCent, idCol, vecCol,
      p =>
        adcTail(
          codes
            .join(
              broadcast(flatProbesArr(q, centsArr, p, idCol, vecCol)
                .select("query_id", "centroid_id")),
              Seq("centroid_id"))
            .filter(col("query_id") =!= col("vec_id"))
            .join(broadcast(dtab), Seq("query_id", "subspace", "code")),
          k),
      ivfPqCandidateCount(q, cents, codes, idCol, vecCol),
      nProbeHint)
  }

  /** Close the BUILD-TIME knob the nProbe tuner cannot reach: nCentroids
    * is fixed at index-build time and folklore-set everywhere, yet it is
    * the knob that decides what a recall SLO COSTS — coarser quantizers
    * reach the target with fewer, fatter cells (many candidates scored
    * per probe), finer ones with more, thinner cells. This runs the
    * honest closed loop a production IVF deployment runs offline: for
    * each rung of a small explicit `ladder` of centroid counts, build a
    * real index under `workDir/nc_<n>`, run the [[autoTuneNProbe]]
    * search against the SAME shared exact baseline (materialized once —
    * the expensive part does not scale with the ladder) warm-started
    * from the previous rung's answer, and record the minimal passing
    * nProbe and its `candidates_scored`. The CHOSEN rung minimizes
    * (candidates_scored, nCentroids) — the cheapest probe meeting the
    * SLO, ties to the coarser build whose centroid scan is smaller.
    * Every rung is eligible by construction (flat IVF probing all cells
    * is exhaustive, recall 1000). An explicit ladder, not a search:
    * probe cost is NOT monotone in nCentroids, so scanning a handful of
    * real builds is the claim that holds, and the per-rung rows are all
    * returned so the trade-off table is auditable, never a silent pick.
    * Returns one row per rung: `(n_centroids, n_probe, recall_milli,
    * candidates_scored, chosen)`.
    *
    * Scale shape: |ladder| index builds + ONE exact ground truth +
    * |ladder| warm-started nProbe searches, each one recall-curve
    * aggregation plus one candidate count ([[autoTuneNProbe]]).
    * Each rung builds via the [[writeIvfIndexTrained]] split: its Lloyd
    * chain runs over `trainSet` (a caller-bounded sample — at 100 TB a
    * ladder must NOT pay |ladder| full-corpus Lloyd runs when the
    * train/add split exists precisely to avoid one), and the corpus pays
    * exactly one assign + partitioned write per rung, the irreducible
    * price of materializing a real store to tune. `trainSet` = None
    * trains on the full corpus (the small-corpus default).
    */
  def autoTuneIvfBuild(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      targetRecallMilli: Long = 950L,
      ladder: Seq[Int] = Seq(4, 8, 16),
      iters: Int = 3,
      trainSet: Option[DataFrame] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    require(
      targetRecallMilli >= 1 && targetRecallMilli <= 1000,
      s"targetRecallMilli must be in [1, 1000], got $targetRecallMilli")
    require(
      ladder.nonEmpty && ladder == ladder.distinct.sorted && ladder.forall(_ >= 1),
      s"ladder must be distinct ascending positive centroid counts, got $ladder")
    val corpusN = corpus
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .localCheckpoint()
    // the ladder re-reads the train set |ladder|·iters times (one Lloyd
    // chain per rung) — checkpoint it once, not per rung
    val train = trainSet
      .map(_.select(col(idCol).cast("long").as(idCol), col(vecCol)).localCheckpoint())
      .getOrElse(corpusN)
    val q = queries.localCheckpoint()
    val exact = bruteForceTopK(q, corpusN, k, idCol, vecCol).localCheckpoint()
    var hint = 0
    val rungs = ladder.map { nc =>
      val p = s"$workDir/nc_$nc"
      writeIvfIndexTrained(corpusN, train, p, nc, iters, idCol, vecCol)
      val cells = spark.read.parquet(s"$p/cells") // fresh build: no tombstones
      val centsArr = centArrayLit(spark.read.parquet(s"$p/centroids"))
      val (nQueries, curve) = flatRecallCurve(q, exact, cells, centsArr, nc, k, idCol, vecCol)
      // the tuner's output is a 1-row local relation (the search already
      // ran), so this read is a bounded decision read
      val row = nProbeSearch(
        spark, nc, targetRecallMilli, nQueries, curve,
        ivfCandidateCount(q, centsArr, cells, idCol, vecCol),
        hint).head()
      hint = row.getAs[Long]("n_probe").toInt // seed the next rung's search
      (nc.toLong, row.getAs[Long]("n_probe"), row.getAs[Long]("recall_milli"),
        row.getAs[Long]("candidates_scored"))
    }
    val best = rungs.minBy { case (nc, _, _, cand) => (cand, nc) }._1
    rungs
      .map { case (nc, np, rec, cand) => (nc, np, rec, cand, nc == best) }
      .toDF("n_centroids", "n_probe", "recall_milli", "candidates_scored", "chosen")
  }

  /** [[autoTuneIvfBuild]] for the COMPOSED IVF-PQ store — the build
    * ladder where BOTH approximations stack. Two honest differences from
    * the flat face: ground truth needs the caller's full-precision
    * corpus (codes are lossy — the [[ivfPqRecallAudit]] contract; here
    * the ladder's stores all hold exactly `corpus`, so one baseline
    * serves every rung), and a rung may NEVER reach the target (coding
    * error misranks within probed cells; exhaustive probing does not
    * undo it), so each rung carries a `passed` flag and the CHOSEN rung
    * is the (candidates_scored, nCentroids)-minimum among passing rungs
    * — or, when none passes, the highest-recall rung (ties to cheaper),
    * which is the honest "this codebook cannot meet the SLO at any
    * nProbe; retrain or re-code" signal rather than a silent pick.
    * Returns one row per rung: `(n_centroids, n_probe, recall_milli,
    * candidates_scored, passed, chosen)`. Rungs build via
    * [[writeIvfPqIndexTrained]]: BOTH quantizers (coarse Lloyd chain,
    * PQ codebook seeds) train on `trainSet` when given — the composed
    * ladder otherwise pays 2·|ladder| corpus-scale training passes at
    * 100 TB. Oracle posture mirrors
    * [[autoTuneNProbeIvfPq]], and so does its per-rung audited ladder
    * (ADC misranking breaks the flat face's closed-form recall curve):
    * the search kernel and the flat ladder are
    * oracle-pinned (`ann_autotune_nprobe`, `ann_autotune_build`); the
    * composed ladder is spec-verified against the oracle-checked
    * [[ivfPqRecallAudit]] — an every-p ADC unroll across three Lloyd
    * chains would re-prove the same kernel at several times the oracle
    * size.
    */
  def autoTuneIvfPqBuild(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      targetRecallMilli: Long = 950L,
      ladder: Seq[Int] = Seq(4, 8, 16),
      iters: Int = 3,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      trainSet: Option[DataFrame] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    require(
      targetRecallMilli >= 1 && targetRecallMilli <= 1000,
      s"targetRecallMilli must be in [1, 1000], got $targetRecallMilli")
    require(
      ladder.nonEmpty && ladder == ladder.distinct.sorted && ladder.forall(_ >= 1),
      s"ladder must be distinct ascending positive centroid counts, got $ladder")
    val corpusN = corpus
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .localCheckpoint()
    // same rent argument as the flat ladder: both quantizers' training
    // re-reads this frame per rung — checkpoint once
    val train = trainSet
      .map(_.select(col(idCol).cast("long").as(idCol), col(vecCol)).localCheckpoint())
      .getOrElse(corpusN)
    val q = queries.localCheckpoint()
    val exact = bruteForceTopK(q, corpusN, k, idCol, vecCol).localCheckpoint()
    var hint = 0
    val rungs = ladder.map { nc =>
      val p = s"$workDir/nc_$nc"
      writeIvfPqIndexTrained(corpusN, train, p, nc, iters, m, ksub, dim, idCol, vecCol)
      val cents = spark.read.parquet(s"$p/centroids")
      val codes = spark.read.parquet(s"$p/codes") // fresh build: no tombstones
      // rung-invariant pieces built once per rung store (the flat
      // ladder's discipline): centroid literal + query ADC table
      val centsArr = centArrayLit(cents)
      val dtab = pqDistTable(q, spark.read.parquet(s"$p/codebook"), m, dim / m, idCol, vecCol)
        .localCheckpoint()
      val row = auditedNProbeSearch(
        spark, q, corpusN, k, targetRecallMilli, nc, idCol, vecCol,
        pp =>
          adcTail(
            codes
              .join(
                broadcast(flatProbesArr(q, centsArr, pp, idCol, vecCol)
                  .select("query_id", "centroid_id")),
                Seq("centroid_id"))
              .filter(col("query_id") =!= col("vec_id"))
              .join(broadcast(dtab), Seq("query_id", "subspace", "code")),
            k),
        ivfPqCandidateCount(q, cents, codes, idCol, vecCol),
        hint,
        Some(exact)).head()
      hint = row.getAs[Long]("n_probe").toInt
      (nc.toLong, row.getAs[Long]("n_probe"), row.getAs[Long]("recall_milli"),
        row.getAs[Long]("candidates_scored"))
    }
    val passed = rungs.filter(_._3 >= targetRecallMilli)
    val best =
      if (passed.nonEmpty) passed.minBy { case (nc, _, _, cand) => (cand, nc) }._1
      else rungs.minBy { case (nc, _, rec, cand) => (-rec, cand, nc) }._1
    rungs
      .map { case (nc, np, rec, cand) =>
        (nc, np, rec, cand, rec >= targetRecallMilli, nc == best)
      }
      .toDF("n_centroids", "n_probe", "recall_milli", "candidates_scored", "passed", "chosen")
  }

  /** (query, candidate) pairs a flat-IVF probe at `p` exact-scores —
    * the `candidates_scored` cost echo, one definition for every tuner
    * face (the oracle pins it through `ann_autotune_nprobe`). Takes the
    * tuner's centroid literal, so the count collects no centroids.
    */
  private def ivfCandidateCount(
      q: DataFrame, centsArr: Column, cells: DataFrame,
      idCol: String, vecCol: String)(p: Int): Long =
    flatProbesArr(q, centsArr, p, idCol, vecCol)
      .join(cells.select("neighbor_id", "centroid_id"), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .count()

  /** (query, vector) pairs an IVF-PQ probe at `p` ADC-scores: codes hold
    * `m` rows per vector, so exactly one subspace is counted — the
    * non-obvious invariant lives in ONE place.
    */
  private def ivfPqCandidateCount(
      q: DataFrame, cents: DataFrame, codes: DataFrame,
      idCol: String, vecCol: String)(p: Int): Long =
    flatProbes(q, cents, p, idCol, vecCol)
      .select("query_id", "centroid_id")
      .join(codes.filter(col("subspace") === 0).select("vec_id", "centroid_id"),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .count()

  /** [[nProbeSearch]] with a MEASURED recall per rung — the IVF-PQ
    * faces' source: one probe, one [[annRecallAudit]] and one 1-row
    * decision read per distinct rung, against an exact baseline
    * materialized once (or the caller's shared `exactOpt`). ADC scoring
    * misranks within probed cells, so the flat tuner's closed-form
    * curve ([[flatRecallCurve]]) does not hold there and each rung is
    * audited for real.
    */
  private def auditedNProbeSearch(
      spark: org.apache.spark.sql.SparkSession,
      q: DataFrame,
      live: DataFrame,
      k: Int,
      targetRecallMilli: Long,
      nCent: Int,
      idCol: String,
      vecCol: String,
      probe: Int => DataFrame,
      candidatesAt: Int => Long,
      hint: Int = 0,
      exactOpt: Option[DataFrame] = None): DataFrame = {
    // the exact baseline depends only on (queries, live corpus, k) — a
    // caller tuning SEVERAL stores over the same corpus (the build-knob
    // ladder) materializes it once and shares it across rungs
    val exact = exactOpt.getOrElse(bruteForceTopK(q, live, k, idCol, vecCol).localCheckpoint())
    val nQueries = exact.select("query_id").distinct().count()
    nProbeSearch(
      spark, nCent, targetRecallMilli, nQueries,
      p => {
        // 1-row decision read per rung (the ivfCentroids collect discipline)
        val r = annRecallAudit(probe(p), exact, k)
          .agg(
            sum("n_hit").cast("long").as("h"),
            sum("n_exact").cast("long").as("e"))
          .head()
        if (r.getLong(1) == 0L) 1000L else (1000L * r.getLong(0)) / r.getLong(1)
      },
      candidatesAt,
      hint)
  }

  /** The shared minimal-nProbe search: exponential ladder + binary search
    * over a monotone recall curve `recallAt`, run on the driver. The
    * flat tuners read `recallAt` off a precomputed curve; the IVF-PQ
    * faces measure it per rung ([[auditedNProbeSearch]]). `hint` >= 1
    * WARM-STARTS the search (seed it from a sibling store's tuned
    * nProbe, or an operator's previous run): a failing hint ladders up
    * from where it stands; a passing hint verifies minimality downward,
    * trying `hint - 1` first so a PERFECT hint closes in two rungs
    * instead of re-climbing the whole ladder. `hint` = 0 is the cold
    * search. The returned row also reports what the chosen rung COSTS —
    * `candidates_scored`, the (query, candidate) pairs the probe
    * actually scored at the chosen nProbe via `candidatesAt` — and
    * `n_rungs`, the distinct recall evaluations the search asked for
    * (the spec's warm-start assertion; driver rows leave it
    * unselected).
    */
  private def nProbeSearch(
      spark: org.apache.spark.sql.SparkSession,
      nCent: Int,
      targetRecallMilli: Long,
      nQueries: Long,
      recall: Int => Long,
      candidatesAt: Int => Long,
      hint: Int): DataFrame = {
    import spark.implicits._
    // memoized: the search re-asks about its final rung (ladder exit /
    // last binary-search hi), and a measured rung is a probe + audit job
    // — never pay for the same p twice
    val seen = scala.collection.mutable.Map.empty[Int, Long]
    def recallAt(p: Int): Long = seen.getOrElseUpdate(p, recall(p))
    var lo = 0 // largest known-failing nProbe
    var hi = math.min(math.max(hint, 1), nCent)
    var rHi = recallAt(hi)
    if (rHi < targetRecallMilli) {
      // exponential ladder to the first passing rung (cold starts and
      // failing hints land here — a stale store seeded from a fresh
      // sibling's answer climbs from the hint, not from 1)
      while (rHi < targetRecallMilli && hi < nCent) {
        lo = hi
        hi = math.min(hi * 2, nCent)
        rHi = recallAt(hi)
      }
    } else if (hi > 1) {
      // a passing warm hint: establish a failing lower bound downward
      if (recallAt(hi - 1) >= targetRecallMilli) {
        hi -= 1
        var down = hi / 2
        while (down >= 1 && recallAt(down) >= targetRecallMilli) {
          hi = down
          down /= 2
        }
        lo = down // 0, or the first failing halving rung
      } else lo = hi - 1 // hint - 1 fails: the hint IS the minimum
    }
    // ... then binary search pins the exact minimum in (lo, hi]
    if (recallAt(hi) >= targetRecallMilli) {
      while (hi - lo > 1) {
        val mid = lo + (hi - lo) / 2
        if (recallAt(mid) >= targetRecallMilli) hi = mid else lo = mid
      }
    }
    rHi = recallAt(hi)
    Seq((nCent.toLong, hi.toLong, rHi, targetRecallMilli, nQueries, hi == nCent,
      candidatesAt(hi), seen.size.toLong))
      .toDF("n_centroids", "n_probe", "recall_milli", "target_milli", "n_queries",
        "exhaustive", "candidates_scored", "n_rungs")
  }

  /** Drift audit for a persisted IVF index — the operational "rebuild
    * yet?" signal for the ingest loop: the stored cells' population vs an
    * incoming batch assigned against the SAME frozen centroids ([[
    * cellDrift]]'s fixed-ruler principle, with the index as the ruler).
    * `drift_milli` = batch share / index share ×1000 per cell; sustained
    * large deviations mean the embedding distribution moved and the
    * quantizer should be retrained (a rebuild by contract — appends never
    * retrain). One aggregation over the index's (already partitioned)
    * cells plus one over the batch; centroids broadcast.
    */
  def indexDriftReport(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // an empty batch carries no drift signal — fail fast rather than
    // return an all-zero report a monitoring gate would read as healthy
    require(!batch.isEmpty, "indexDriftReport: empty batch has no drift signal")
    requireNotInflight(spark, path)
    requireIvfDim(batch, path, vecCol)
    val cents = spark.read.parquet(s"$path/centroids")
    def ppm(counts: DataFrame, nCol: String, pCol: String) = {
      val t = counts.agg(sum(nCol).cast("long").as("__tot"))
      counts
        .crossJoin(broadcast(t))
        .select(
          col("centroid_id"),
          col(nCol),
          expr(s"$nCol * 1000000 div __tot").cast("long").as(pCol))
    }
    val idx = ppm(
      minusTombstones(spark, path, spark.read.parquet(s"$path/cells"), "neighbor_id")
        .groupBy("centroid_id")
        .agg(count(lit(1)).cast("long").as("n_index")),
      "n_index", "index_ppm")
    val b = ppm(
      flatCells(batch, cents, idCol, vecCol)
        .groupBy("centroid_id")
        .agg(count(lit(1)).cast("long").as("n_batch")),
      "n_batch", "batch_ppm")
    idx
      .join(b, Seq("centroid_id"), "full_outer")
      .select(
        col("centroid_id"),
        coalesce(col("n_index"), lit(0L)).as("n_index"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("index_ppm"), lit(0L)).as("index_ppm"),
        coalesce(col("batch_ppm"), lit(0L)).as("batch_ppm"))
      .withColumn(
        "drift_milli",
        when(col("index_ppm") >= 1, expr("(batch_ppm * 1000) div index_ppm"))
          .otherwise(lit(-1L))
          .cast("long"))
  }

  /** Probe a persisted IVF index (flat or k-means, optionally grown by
    * [[appendIvfIndex]]): rank each query's `nProbe` cells against the
    * stored centroids, rerank within those cells. Identical results to
    * the in-memory operator over the same corpus; the cells join keys on
    * the partition column with a broadcast probe side, so dynamic
    * partition pruning drops every unprobed cell's files at the scan.
    * Tombstoned ids ([[deleteFromIndex]]) are subtracted before ranking,
    * so a deleted vector never reaches top-k.
    */
  def probeIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    requireNotInflight(spark, path)
    requireIvfDim(queries, path, vecCol)
    val cents = spark.read.parquet(s"$path/centroids")
    val cells = minusTombstones(spark, path, spark.read.parquet(s"$path/cells"), "neighbor_id")
    rerank(flatProbes(queries, cents, nProbe, idCol, vecCol), cells, k)
  }

  /** Probe a saved flat IVF index: rank each query's `nProbe` cells against
    * the (tiny, driver-broadcast) centroid file, then rerank only within
    * those cells. The cells join keys on the PARTITION column, and the
    * probe side is broadcast, so Spark's dynamic partition pruning drops
    * every unprobed cell's files at the scan — asserted in the spec.
    * Identical results to [[ivfFlatTopK]] over the same corpus.
    */
  def probeIvfFlatIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    probeIvfIndex(spark, path, queries, k, nProbe, idCol, vecCol)

  /** IVF top-k: assign the corpus to cells once, probe each query's
    * `nProbe` nearest cells, exact-cosine rerank within the probed
    * candidates. The cross join shrinks from |Q|x|corpus| to
    * |Q|x(probed cells' members) — the standard recall/cost dial.
    * Probe ranking rounds to 6 places like every other stage, completing
    * the [[ivfCentroids]] determinism contract end-to-end.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, nCentroids, iters = 3, idCol, vecCol)
    val cells = assign(corpus, cents, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("centroid_id"))
    val probes = flatProbes(queries, cents, nProbe, idCol, vecCol)
    rank(
      probes
        .join(cells, Seq("centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(cosine(col("qv"), col("cv")), 6).as("cos_r")),
      k)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max|x|, elements mapped to round(127 * x / scale) — the standard
    * 4x memory/bandwidth reduction that makes billion-vector ANN fit a
    * cluster's RAM (dequantize ≈ q * scale / 127). Stateless per-row
    * arithmetic: no shuffle, embarrassingly parallel, deterministic, so
    * the digest of the quantized codes is oracle-hashable.
    *
    * The max-abs is projected to a named column BEFORE the quantizing
    * lambda: referenced inline it would re-scan the array per element
    * (interpreted-HOF re-evaluation).
    *
    * Output: id, scale_r (rounded 6), q_sum / q_md5 (integer sum and
    * joined-code digest of the int8 codes — the hashable faces; callers
    * wanting the codes themselves use the `q` column pre-projection).
    */
  def quantizeInt8(
      embs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val withMab = embs.select(
      col(idCol),
      col(vecCol).as("v"),
      array_max(transform(col(vecCol), x => abs(x.cast("double")))).as("mab"))
    val quantized = withMab.select(
      col(idCol),
      round(col("mab"), 6).as("scale_r"),
      when(col("mab") === 0.0, transform(col("v"), _ => lit(0L)))
        .otherwise(
          transform(col("v"), x => round(lit(127.0) * x.cast("double") / col("mab"), 0).cast("long")))
        .as("q"))
    quantized.select(
      col(idCol),
      col("scale_r"),
      aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
      md5(concat_ws(",", transform(col("q"), _.cast("string")))).as("q_md5"))
  }

  /** Per-dimension corpus statistics of an embedding column in integer
    * milli-units — the fitted state of feature standardization (z-scoring):
    * one row per position with count, mean and standard deviation. The
    * pre-whitening step before distance-based ops (ANN, semantic dedup,
    * k-means cells): a dimension with 100x the variance of the rest
    * dominates every cosine/L2 unless normalized out.
    *
    * Exactness: elements enter as `round(x*1000)` longs (the PQ family's
    * milli trick); per-position sum and sum-of-squares aggregate in
    * decimal(38,0), which is summation-order-independent (a float sum is
    * not) and cannot overflow at any plausible corpus size (1e12 rows x
    * 1e4 milli² = 1e20 << 1e38). The final mean/std divide in DOUBLE and
    * floor — IEEE-identical in any engine, so both columns oracle-hash;
    * past 2^53 the double division may be off by at most one milli
    * (deterministically so), which a standardizer does not care about.
    *
    * Scale shape: `posexplode` is a narrow per-row expansion of x dim
    * rows; the only shuffle is the final hash aggregation onto <= dim
    * keys with map-side partials — uniform by construction (every vector
    * contributes one value to every position).
    */
  def dimStats(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus
      .select(posexplode(milliVec(col(vecCol))))
      .select(col("pos").cast("long").as("pos"), col("col").as("xm"))
      .groupBy("pos")
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("xm").cast("decimal(38,0)")).as("sm"),
        sum(col("xm").cast("decimal(19,0)") * col("xm").cast("decimal(19,0)")).as("sq"))
      .select(
        col("pos"),
        col("n"),
        floor(col("sm").cast("double") / col("n").cast("double")).cast("long").as("mean_milli"),
        floor(
          sqrt(
            (col("n").cast("decimal(38,0)") * col("sq") - col("sm") * col("sm")).cast("double") /
              (col("n").cast("double") * col("n").cast("double"))))
          .cast("long")
          .as("std_milli"))

  /** Z-standardized embeddings in integer milli-units:
    * `z = floor((x_milli - mean_milli) * 1000 / std_milli)` per dimension,
    * against [[dimStats]] of the SAME corpus (fit-and-transform in one
    * call; standardizing a query set against a corpus' stats is the same
    * two lines with the stats computed once and reused). Constant
    * dimensions (std 0) clamp the divisor to 1 instead of dividing by
    * zero — their z is then the raw milli offset, which downstream
    * distance ops treat like any other (constant) column.
    *
    * Scale shape: the stats land driver-side as ONE row per embedding
    * dimension (the [[ivfCentroids]] bounded-collect justification) and
    * ride back into a per-row `transform` as array literals — the
    * transform is a zero-shuffle column program over the corpus; the only
    * wide stage is dimStats' <= dim-key aggregation.
    */
  def standardizeMilli(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val stats = dimStats(corpus, idCol, vecCol)
      .select(col("pos"), col("mean_milli"), col("std_milli"))
      .collect()
      .sortBy(_.getLong(0))
    require(stats.nonEmpty, "standardizeMilli: corpus has no vectors")
    val means = stats.map(_.getLong(1))
    val stds = stats.map(r => math.max(r.getLong(2), 1L))
    corpus.select(
      col(idCol).cast("long").as("vec_id"),
      transform(
        milliVec(col(vecCol)),
        (x, i) =>
          floor(
            (x - element_at(lit(means), i + 1)).cast("double") * 1000.0 /
              element_at(lit(stds), i + 1).cast("double")).cast("long")).as("z_milli"))
  }

  private def rank(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn(
        "rank",
        row_number().over(
          Window
            .partitionBy("query_id")
            .orderBy(col("cos_r").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_r")
  }

  /** Integer-milli view of a float vector (`round(x*1000)` per element) —
    * the shared exactness trick of the PQ family: all distances downstream
    * are integer sums of integer squares, so Spark and any oracle engine
    * agree bit-for-bit.
    */
  private def milliVec(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000, 0).cast("long"))

  private def md5Hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString

  /** Deterministic Rademacher random projection — the
    * Johnson–Lindenstrauss dimensionality cut that makes billion-vector
    * ANN cheap: `proj[j] = Σ_i round(x[i]·1000) · s(i,j)` with the fixed
    * ±1 sign matrix `s(i,j) = +1 iff the first hex digit of md5("i:j")
    * is 0..7`. Cosine/distance structure is preserved up to JL error
    * while the per-vector footprint drops `dim/outDim`-fold, so the
    * bucket-then-rerank ANN path (and any pairwise stage) runs on the
    * short vectors and only the final rerank touches the originals.
    *
    * Integer milli inputs and an integer sign matrix make every output
    * coordinate exact integer arithmetic — engine-portable, like the PQ
    * family. The sign matrix is `outDim·dim` literals computed ONCE on
    * the driver; the sign only PARTITIONS each sum (plus-terms minus
    * minus-terms), so no per-term multiply survives into the plan. The
    * milli view is materialized ONCE per row as a projected attribute
    * (`vm`) and every coordinate reads `element_at` on it — scalar,
    * codegen'd; referencing the RAW vector instead would re-round each
    * input element once per OUTPUT dimension (outDim× redundant work,
    * measured ~2× the whole operator at sf0.1), and an inline array
    * expression would be worse still (CollapseProject re-evaluates it
    * per term — the plan-sweep anti-pattern). `vm` is non-cheap and
    * referenced outDim·dim times, so CollapseProject leaves the
    * projection boundary intact — the [[graft.ops.TextAnalysis]] `ngrams`
    * discipline. The whole operator is a zero-shuffle projection — at
    * 100 TB it pipelines with whatever scan feeds it. The oracle
    * evaluates the same md5 parity in SQL.
    */
  def projectMilli(
      embs: DataFrame,
      outDim: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val signs = Array.tabulate(outDim, dim) { (j, i) =>
      if (md5Hex(s"$i:$j").charAt(0) <= '7') 1L else -1L
    }
    val projected = (0 until outDim).map { j =>
      val (plus, minus) = (0 until dim).partition(i => signs(j)(i) > 0)
      def term(i: Int): Column = element_at(col("vm"), i + 1)
      val pos = plus.map(term).reduceOption(_ + _).getOrElse(lit(0L))
      val neg = minus.map(term).reduceOption(_ + _).getOrElse(lit(0L))
      (pos - neg).as(s"p$j")
    }
    embs
      .select(col(idCol), milliVec(col(vecCol)).as("vm"))
      .select(col(idCol) +: projected: _*)
      .select(
        col(idCol),
        array((0 until outDim).map(j => col(s"p$j")): _*).as("proj_milli"))
  }

  /** Product-quantization codebook: the `ksub` lowest-id corpus vectors
    * seed one centroid set per subspace (the deterministic "flat" seeding
    * of [[ivfFlatTopK]], applied per 16-dim slice). One row per
    * (subspace, code): `subspace` in 0..m-1, `code` in 0..ksub-1 by seed
    * id rank, `cm` the centroid's milli subvector. Bounded at m·ksub rows
    * — always broadcastable.
    */
  private def pqCodebook(
      corpus: DataFrame,
      m: Int,
      subDim: Int,
      ksub: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Driver-side materialization of a bounded dimension table (<= ksub
    // rows by construction, never data-volume) — the codebook feeds several
    // broadcast consumers (code assignment, the ADC distance table), and as
    // a collected literal its lineage is never re-evaluated per consumer
    // (the collect-to-broadcast-literal discipline of SCALE.md; same move
    // as ivfCentroids).
    val seeds = corpus
      .select(col(idCol).cast("long").as("seed_id"), milliVec(col(vecCol)).as("vm"))
      .orderBy(col("seed_id"))
      .limit(ksub)
      .collect()
    require(seeds.nonEmpty, "pqCodebook: corpus has no vectors to seed the codebook from")
    seeds.zipWithIndex.toSeq
      .flatMap { case (r, code) =>
        val vm = r.getSeq[Long](1)
        (0 until m).map(j => (j.toLong, code.toLong, vm.slice(j * subDim, (j + 1) * subDim)))
      }
      .toDF("subspace", "code", "cm")
  }

  /** Product-quantization encoder (Jégou et al. 2011): each vector splits
    * into `m` subvectors and each subvector is replaced by the id of its
    * nearest codebook centroid (squared-L2 in integer milli units, lower
    * code on ties). Output is the relational code table — one row per
    * (vec_id, subspace) with the chosen `code` and its quantization
    * distance `qdist` — i.e. a 64-dim float vector compressed to m small
    * ints, the memory move that makes billion-vector ANN feasible. A
    * vector whose embedding is null, shorter than `dim` or holds a null
    * gets no codes.
    *
    * Scale shape: the codebook is m·ksub rows and broadcast; assignment is
    * a map-side cross join (ksub distance evaluations per subvector)
    * collapsed by a `min(struct(dist, code))` hash aggregation — uniform
    * (vec_id, subspace) keys, map-side partials, no window, no shuffle of
    * the raw cross-join when AQE coalesces. Codebook training beyond
    * seed-vectors would slot in via [[ivfCentroids]]-style Lloyd rounds
    * without changing this assignment plan.
    */
  def pqCodes(
      corpus: DataFrame,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subDim = dim / m
    pqEncode(corpus, pqCodebook(corpus, m, subDim, ksub, idCol, vecCol), m, subDim, idCol, vecCol)
  }

  /** Encode vectors against a GIVEN codebook — the shared kernel of
    * [[pqCodes]] (codebook built in place) and [[appendPqIndex]] (codebook
    * read back from the persisted index, so appended batches are coded in
    * the same space the index was built in).
    */
  private def pqEncode(
      vecs: DataFrame,
      cb: DataFrame,
      m: Int,
      subDim: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    // The codebook is m·ksub rows by construction — collect it (bounded
    // decision read, the pqCodebook discipline) and fold the per-subspace
    // argmin INTO the row projection: the old broadcast join + groupBy
    // min(struct) shuffled |corpus|·m rows just to pick each subvector's
    // best of ksub codes. One in-plan literal per subspace, zero
    // exchanges (guide §2.4); the fold keeps min(struct(dist, code))'s
    // exact contract — strictly-smaller distance wins, ties keep the
    // lower code (codes iterate in ascending order).
    val bySub = cb
      .select(col("subspace").cast("long"), col("code").cast("long"), col("cm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .groupBy(_._1)
    require(
      (0L until m.toLong).forall(bySub.contains),
      s"pqEncode: codebook covers subspaces ${bySub.keys.toSeq.sorted}, need 0..${m - 1}")
    val cbArr = array((0L until m.toLong).map { j =>
      array(bySub(j).sortBy(_._2).map { case (_, code, cm) =>
        struct(lit(code).as("code"), typedLit(cm).as("cm"))
      }: _*)
    }: _*)
    vecs
      .select(col(idCol).as("vec_id"), milliVec(col(vecCol)).as("vm"))
      // a null, short or null-holding embedding has no code: its subvector
      // distances come out null (a null dist sorts first in array_min) or
      // truncated, and it would encode as a valid-looking code — drop it
      .filter(size(col("vm")) >= m * subDim && !exists(col("vm"), _.isNull))
      .select(
        col("vec_id"),
        posexplode(
          transform(sequence(lit(0), lit(m - 1)), j => slice(col("vm"), j * subDim + 1, lit(subDim))))
          .as(Seq("subspace", "sv")))
      .select(
        col("vec_id"),
        col("subspace").cast("long").as("subspace"),
        // bind the native distance ([[graft.functions.SquaredDistanceLong]])
        // ONCE per (subvector, code) — the previous fold referenced it in
        // both the comparison and the winning struct, so interpreted
        // higher-order evaluation could pay it twice — and take the argmin
        // as array_min over (dist, code) structs: lexicographic struct
        // ordering IS the contract (strictly-smaller distance wins, ties
        // keep the lower code)
        array_min(
          transform(
            element_at(cbArr, col("subspace").cast("int") + 1),
            c => struct(
              graft.functions.functions.l2sq_long(col("sv"), c.getField("cm")).as("dist"),
              c.getField("code").as("code")))).as("best"))
      .select(
        col("vec_id"),
        col("subspace"),
        col("best.code").as("code"),
        col("best.dist").as("qdist"))
  }

  /** PQ asymmetric-distance top-k (ADC): queries stay full-precision; each
    * candidate's distance is the sum over subspaces of a precomputed
    * (query, subspace, code) table entry — m lookups per candidate instead
    * of a dim-wide float loop. Distances are integer milli² throughout, so
    * ranking is exact. Ascending distance, neighbor id on ties.
    *
    * Scale shape: the distance table is |queries|·m·ksub rows — broadcast
    * (queries are the small side by contract, as in [[bruteForceTopK]]);
    * the candidate score is then one equi-join on (subspace, code) against
    * the code table plus a (query, neighbor) hash aggregation — both
    * map-side-partial friendly, no window until the final per-query top-k.
    * At 100 TB the code table is ~m bytes/vector — the whole point of PQ —
    * and this plan touches full vectors only for the m·ksub codebook.
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subDim = dim / m
    val cb = pqCodebook(corpus, m, subDim, ksub, idCol, vecCol)
    // qdist here is the CANDIDATE's quantization residual — drop it; ADC
    // scores against the query's own distance table only
    val codes = pqCodes(corpus, m, ksub, dim, idCol, vecCol)
      .select("vec_id", "subspace", "code")
    adcRank(codes, pqDistTable(queries, cb, m, subDim, idCol, vecCol), k)
  }

  /** Per-query ADC distance table: one row per (query, subspace, code)
    * with the milli² L2 distance to that codebook centroid — m·ksub rows
    * per query, broadcast into the code join.
    */
  private def pqDistTable(
      queries: DataFrame,
      cb: DataFrame,
      m: Int,
      subDim: Int,
      idCol: String,
      vecCol: String): DataFrame =
    queries
      .select(col(idCol).as("query_id"), milliVec(col(vecCol)).as("qm"))
      .select(
        col("query_id"),
        posexplode(
          transform(sequence(lit(0), lit(m - 1)), j => slice(col("qm"), j * subDim + 1, lit(subDim))))
          .as(Seq("subspace", "qs")))
      .select(col("query_id"), col("subspace").cast("long").as("subspace"), col("qs"))
      .join(broadcast(cb), Seq("subspace"))
      .select(
        col("query_id"),
        col("subspace"),
        col("code"),
        graft.functions.functions.l2sq_long(col("qs"), col("cm")).as("qdist"))

  /** ADC scoring + per-query top-k over a code table and a distance
    * table — the shared tail of [[pqTopK]] and [[probePqIndex]].
    */
  private def adcRank(codes: DataFrame, dtab: DataFrame, k: Int): DataFrame =
    adcTail(
      codes
        .join(broadcast(dtab), Seq("subspace", "code"))
        .filter(col("query_id") =!= col("vec_id")),
      k)

  /** The ONE ADC ranking contract — ascending exact-integer distance,
    * neighbor id on ties — shared by the flat PQ faces ([[adcRank]]) and
    * the composed IVF-PQ probe, so the two can never drift: aggregate the
    * per-subspace lookups of a pre-joined (query_id, vec_id, qdist)
    * table, rank per query.
    */
  private def adcTail(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pairs
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("qdist").cast("long").as("adc_dist"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("adc_dist").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
  }

  /** Mean per-vector quantization (reconstruction) error of an encoded
    * set — the 1-row statistic behind the stored PQ baseline and the
    * [[retrainPqIfDrifted]] decision: `err_q = Σ qdist div n_vecs`
    * (integer milli² ADC units, exact — the decimal(38,0) cast happens
    * BEFORE the sum), `n_vecs = rows div m` (every vector contributes
    * exactly m subspace rows, so no countDistinct expand is needed).
    */
  private def pqErrAgg(enc: DataFrame, m: Int): DataFrame =
    enc
      .agg(
        sum(col("qdist").cast("decimal(38,0)")).as("s"),
        count(lit(1)).cast("long").as("rows"))
      .select(
        expr(s"CAST(CASE WHEN rows > 0 THEN s div (rows div $m) ELSE 0 END AS BIGINT)")
          .as("err_q"),
        expr(s"CAST(rows div $m AS BIGINT)").as("n_vecs"))

  /** Persist the codebook-drift BASELINE beside a PQ store: the mean
    * reconstruction error of the vectors the codebook was TRAINED on,
    * measured at train time — the ruler [[retrainPqIfDrifted]] holds new
    * batches against. Written by [[writePqIndex]], [[retrainPqIndex]],
    * and [[ingestPqBatch]]'s training claim; deliberately NOT refreshed
    * by [[appendPqIndex]] (appends encode against the frozen codebook —
    * moving the ruler with them would mask exactly the drift the
    * baseline exists to expose).
    */
  private def writePqErrBase(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      enc: DataFrame,
      m: Int): Unit =
    pqErrAgg(enc, m).coalesce(1).write.mode("overwrite").parquet(s"$path/errbase")

  /** Persist a PQ index: the m·ksub `codebook`, the relational `codes`
    * table, a one-row `params` parquet, and the 1-row `errbase` drift
    * baseline (mean training reconstruction error — see
    * [[writePqErrBase]]) — build-once/probe-many for
    * the compressed-domain ANN, completing the lifecycle family
    * ([[writeIvfIndex]], [[graft.ops.Dedup.writeLshIndex]]). The codebook
    * FREEZES at build: [[appendPqIndex]] encodes new batches against it,
    * and [[probePqIndex]] REFUSES (m, ksub, dim) callers that differ from
    * the build — a mismatched distance table scores garbage silently
    * otherwise. The encode is materialized once (localCheckpoint — m
    * skinny rows per vector) to feed both the code write and the
    * baseline aggregate without a second encode pass.
    */
  def writePqIndex(
      corpus: DataFrame,
      path: String,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val spark = corpus.sparkSession
    import spark.implicits._
    val subDim = dim / m
    requirePqDim(corpus, dim, vecCol, "writePqIndex")
    // full rebuild spans codebook ↔ codes ↔ errbase ↔ params: marker up
    // before the first overwrite, cleared after the last — a crash
    // mid-way is refused, never probed as old-codes-under-new-codebook
    markInflight(spark, path, "writePqIndex")
    deleteDir(spark, s"$path/tombstones") // full rebuild: stale deletes die
    val cb = pqCodebook(corpus, m, subDim, ksub, idCol, vecCol)
    cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    val enc = pqEncode(corpus, cb, m, subDim, idCol, vecCol).localCheckpoint()
    enc
      .select("vec_id", "subspace", "code")
      .write.mode("overwrite").parquet(s"$path/codes")
    writePqErrBase(spark, path, enc, m)
    Seq((m, ksub, dim))
      .toDF("m", "ksub", "dim")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
    clearInflight(spark, path)
  }

  /** One micro-batch of STREAMING PQ maintenance — the compressed-domain
    * twin of [[ingestIvfBatch]], same training contract: batch 0 (fresh
    * stream, retrains over any stale store) or the first non-empty batch
    * when leading batches were empty; every batch encodes against the
    * frozen codebook and lands its codes under `codes/batch_id=N` with
    * overwrite semantics (checkpoint-retried batches rewrite themselves).
    * [[probePqIndex]] reads the grown store unchanged — the extra
    * batch_id partition column never reaches the ADC join's projection.
    * Same retrain contract as [[ingestIvfBatch]]: the training branch
    * deletes the stale `codes/` subtree (and tombstones) first, so a
    * retrain replaces the whole index rather than leaving old-codebook
    * codes in sibling batch dirs.
    */
  def ingestPqBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val spark = batch.sparkSession
    import spark.implicits._
    val subDim = dim / m
    val trainedHere = batchId == 0L || !storeExists(spark, s"$path/params")
    if (trainedHere) {
      // Wipe BEFORE the empty check (the StoreLifecycle rule); the
      // codebook needs content to train, so it defers to the first
      // non-empty batch — params come down too, so that batch re-claims.
      deleteDir(spark, s"$path/codes")
      deleteDir(spark, s"$path/tombstones")
      clearInflight(spark, path)
      deleteDir(spark, s"$path/codebook")
      deleteDir(spark, s"$path/errbase")
      deleteDir(spark, s"$path/params")
      if (batch.isEmpty) return
      pqCodebook(batch, m, subDim, ksub, idCol, vecCol)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
      Seq((m, ksub, dim))
        .toDF("m", "ksub", "dim")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/params")
    } else {
      requireNotInflight(spark, path) // crashed retrain: refuse, never land
      requirePqParams(spark, path, m, ksub, dim)
      if (batch.isEmpty) return // nothing to encode
    }
    requirePqDim(batch, dim, vecCol, s"ingestPqBatch (batch $batchId)")
    val cb = spark.read.parquet(s"$path/codebook")
    val encRaw = pqEncode(batch, cb, m, subDim, idCol, vecCol)
    // only the training claim needs the encode twice (codes + baseline);
    // steady-state batches keep the straight-through single-pass write
    val enc = if (trainedHere) encRaw.localCheckpoint() else encRaw
    enc
      .select("vec_id", "subspace", "code")
      .write.mode("overwrite").parquet(s"$path/codes/batch_id=$batchId")
    // the training batch IS the codebook's training set: its encode is
    // the drift baseline (frozen across later appends, like writePqIndex)
    if (trainedHere) writePqErrBase(spark, path, enc, m)
  }

  /** Fail fast when a PQ caller's vector set is null-bearing, mixed-width,
    * or differs from the declared `dim` — [[requireIvfDim]]'s flat-PQ twin.
    * Without it a wrong-dim batch silently zip-truncates inside the
    * subspace distance loop and every qdist DEFLATES (empty subvectors
    * score 0), which would mask exactly the drift
    * [[retrainPqIfDrifted]] exists to catch. Empty sets pass (no
    * dimension to check; downstream work on zero rows is a no-op).
    */
  private def requirePqDim(df: DataFrame, dim: Int, vecCol: String, what: String): Unit = {
    val (n, nulls, dmin, dmax) = vecDimProfile(df, vecCol)
    if (n == 0) return
    require(nulls == 0, s"$what passed $nulls null vectors in '$vecCol' (of $n rows)")
    require(
      dmin == dmax,
      s"$what passed mixed vector widths in '$vecCol': ${dmin.get}..${dmax.get}")
    require(
      dmin.contains(dim),
      s"$what: PQ codebook is $dim-dim, caller passed ${dmin.get}-dim vectors")
  }

  private def requirePqParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      m: Int,
      ksub: Int,
      dim: Int): Unit = {
    val p = spark.read.parquet(s"$path/params").select("m", "ksub", "dim").head()
    val stored = (p.getInt(0), p.getInt(1), p.getInt(2))
    require(
      stored == ((m, ksub, dim)),
      s"PQ index at $path was built with (m, ksub, dim) = $stored, " +
        s"caller passed (${m}, ${ksub}, ${dim})")
  }

  /** Grow a persisted PQ index: encode the batch against the FROZEN
    * stored codebook and append its codes — no recoding of history.
    */
  def appendPqIndex(
      batch: DataFrame,
      path: String,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    requireNotInflight(batch.sparkSession, path) // crashed retrain: refuse, never land
    requirePqParams(batch.sparkSession, path, m, ksub, dim)
    requirePqDim(batch, dim, vecCol, "appendPqIndex")
    val cb = batch.sparkSession.read.parquet(s"$path/codebook")
    pqEncode(batch, cb, m, dim / m, idCol, vecCol)
      .select("vec_id", "subspace", "code")
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Probe a persisted PQ index ([[writePqIndex]], optionally grown by
    * [[appendPqIndex]]): identical results to [[pqTopK]] over the same
    * corpus, but the codebook and code table are read back, not
    * recomputed — the full-precision corpus is never touched. Tombstoned
    * ids ([[deleteFromIndex]]) are subtracted before scoring.
    */
  def probePqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      m: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    requireNotInflight(spark, path)
    requirePqParams(spark, path, m, ksub, dim)
    val cb = spark.read.parquet(s"$path/codebook")
    adcRank(
      minusTombstones(spark, path, spark.read.parquet(s"$path/codes"), "vec_id"),
      pqDistTable(queries, cb, m, dim / m, idCol, vecCol),
      k)
  }

  /** Embedding-diversity audit: mean pairwise cosine within each group
    * (label/cell/source), computed WITHOUT materializing any pair via the
    * sum-vector identity — for unit vectors, Σ_{i≠j} cos(v_i, v_j) =
    * ‖Σ v̂_i‖² − n. High mean cosine flags a collapsed or duplicated
    * region of the corpus; near-zero means healthy spread. Vectors are
    * normalized then fixed to integer milli units, so the per-dimension
    * sums are exact integers in any engine; the final mean is one double
    * division on those exact integers, rounded to milli.
    *
    * Scale shape: one narrow normalize + posexplode, a (group, dim) hash
    * aggregation (64 rows per group), then a group-level fold — linear in
    * corpus size, no pairs, no window, map-side partials throughout.
    */
  def diversity(
      embs: DataFrame,
      groupCol: String = "label",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // norm is one HOF fold per ROW; the per-ELEMENT normalize+round happens
    // after the explode as a plain codegen'd projection (a transform() here
    // would evaluate its lambda interpreted, |corpus|·dim times)
    embs
      .select(
        col(groupCol).cast("long").as("grp"),
        norm(col(vecCol)).as("nm"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(
        col("grp"),
        col("pos"),
        when(col("nm") === 0.0, lit(0L))
          .otherwise(round(col("x").cast("double") * 1000 / col("nm"), 0).cast("long"))
          .as("u"))
      .groupBy("grp", "pos")
      .agg(sum("u").cast("long").as("s"), count(lit(1)).cast("long").as("cnt"))
      .groupBy("grp")
      .agg(
        max("cnt").cast("long").as("n"),
        sum(col("s") * col("s")).cast("long").as("ss"))
      .select(
        col("grp").as(groupCol),
        col("n"),
        // (‖S‖²/1e6 − n) / (n(n−1)), in milli: exact-integer inputs, one
        // double division, same op order as the oracle
        round(
          (col("ss").cast("double") / 1000000.0 - col("n").cast("double")) /
            (col("n").cast("double") * (col("n").cast("double") - 1.0)) * 1000.0,
          0).cast("long").as("cos_avg_milli"))
      .filter(col("n") > 1)
  }
}
