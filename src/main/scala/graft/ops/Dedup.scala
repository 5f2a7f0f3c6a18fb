package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle-bound primitive that survives a 1000-executor scale-up:
  *
  *  - exact: hash-groupBy on a text fingerprint (one shuffle on the hash —
  *    perfectly balanced keys).
  *  - MinHash+LSH: shingle → K minhashes → band buckets → equi-join on
  *    bucket key. The candidate join is an equi-join on (band, bucket), so
  *    the only skew risk is a hot bucket; banding width bounds it.
  *  - SimHash: per-doc bit-majority fingerprint — embarrassingly parallel;
  *    near-dup lookup is a Hamming-ball probe per band of the fingerprint.
  *  - n-gram Jaccard: inverted-index self-join with a document-frequency
  *    cap on grams (drops ubiquitous shingles — the classic hot-key guard).
  */
object Dedup {

  /** Exact-duplicate groups: fingerprint → (n_docs, min_doc_id) for groups
    * with more than one member.
    */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).cast("long").as("n_docs"), min(col(idCol)).as("min_doc_id"))
      .filter(col("n_docs") > 1)

  /** Soft deduplication: instead of DROPPING exact duplicates, keep every
    * row and emit a per-doc training weight `1000 div n_copies` (milli
    * units, integer — hash-stable) so a document crawled N times
    * contributes one document's worth of gradient in expectation. The
    * down-weight-don't-drop alternative to [[Dedup.keepRepresentatives]]:
    * dropping loses the (often meaningful) signal that popular content IS
    * popular; weighting preserves corpus composition while removing the
    * over-representation. The weight floors at 1 milli — beyond 1000
    * copies integer division would round to 0 and silently DROP the
    * content entirely (the exact failure this operator exists to avoid),
    * so mega-duplicated groups contribute slightly more than one
    * document's worth rather than nothing.
    *
    * Scale shape: the copy count is a hash aggregation on the content
    * fingerprint (uniform md5 key, map-side partials absorb a
    * million-copy group) joined back on the fingerprint — an equi-join
    * AQE can skew-split; never a `count() OVER (PARTITION BY fp)` window
    * (the repo's standing hot-key discipline).
    */
  def softDedupWeights(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val fp = docs.select(
      col(idCol).cast("long").as("doc_id"),
      TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
    val counts = fp
      .groupBy("fingerprint")
      .agg(count(lit(1)).cast("long").as("n_copies"))
    fp.join(counts, Seq("fingerprint"))
      .select(
        col("doc_id"),
        col("fingerprint"),
        col("n_copies"),
        greatest(expr("1000 div n_copies"), lit(1L)).cast("long").as("weight_milli"))
  }

  /** Prefix-template groups: docs sharing their first `nTokens`
    * (whitespace-normalized) tokens — the cheap probe for SEO/template
    * spam, mirror farms, and generation loops, which agree verbatim at
    * the start and then diverge enough to slip past whole-doc exact dedup
    * (a lighter complement to [[minHashLsh]]: one agg, no pair
    * generation). Docs shorter than `nTokens` group by their full token
    * list; docs with NO tokens (empty/whitespace-only) are excluded — they
    * share no template, and grouping them would report one giant
    * false-positive "empty prefix" family. Same shape as [[exactGroups]]:
    * one hash aggregation on a uniform md5 key with map-side partials, so
    * a million-doc template family collapses inside each map task.
    */
  def prefixGroups(docs: DataFrame, nTokens: Int = 8, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) > 0)
      .groupBy(md5(concat_ws(" ", slice(col("__tk"), 1, nTokens))).as("prefix_fp"))
      .agg(count(lit(1)).cast("long").as("n_docs"), min(col(idCol)).as("min_doc_id"))
      .filter(col("n_docs") > 1)

  /** Incremental dedup: rows of `batch` whose exact-content fingerprint
    * ([[TextAnalysis.fingerprint]]: md5 of whitespace-normalized lowercase
    * text) appears neither in the already-ingested corpus `seen` nor
    * earlier in the batch itself (lowest id wins within a batch group).
    *
    * This is the re-crawl shape: every ingest round deduplicates the new
    * batch against the full history without ever re-reading history TEXT —
    * the anti join prunes `seen` to its fingerprint column (parquet column
    * pruning), and both sides shuffle on uniformly distributed md5 keys.
    * At deployment the seen-side fingerprints are a stored artifact of
    * previous rounds (append-only parquet), so round N does one shuffle of
    * |batch| + |history fingerprints| — no rescan of 100 TB of text.
    */
  def incrementalNew(
      batch: DataFrame,
      seen: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val seenFps = seen.select(fp.as("fingerprint")).distinct()
    batch
      .select(col(idCol).as("doc_id"), fp.as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"))
      .join(seenFps, Seq("fingerprint"), "left_anti")
      .select("doc_id", "fingerprint")
  }

  /** (id, token) pairs, distinct — the unigram shingle set. */
  private def tokenSet(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .distinct()

  /** MinHash signatures: K simulated hash functions h_k(t) = md5(k ':' t),
    * minimum taken lexicographically over the 16-hex-char prefix. String
    * min == numeric min of the underlying 64 bits, and md5 is identical in
    * every engine — the whole construction is oracle-mirrorable.
    */
  /** Wide MinHash signature: one aggregation pass computes all K minhashes
    * as columns (vs an explode-by-K row blowup — measured 8x shuffle volume
    * and 10x wall-clock at 5k docs).
    */
  def minHashSignature(shingles: DataFrame, numHashes: Int): DataFrame =
    shingles
      .groupBy("id")
      .agg(
        min(substring(md5(concat(lit("0:"), col("tok"))), 1, 16)).as("mh0"),
        (1 until numHashes).map(k =>
          min(substring(md5(concat(lit(s"$k:"), col("tok"))), 1, 16)).as(s"mh$k")): _*)

  /** LSH band keys from a wide signature: rowsPerBand consecutive minhashes
    * concatenated per band, one row per (id, band). Derived in a SINGLE pass
    * over the signature — `posexplode` of a per-row array of band keys — so
    * the expensive signature aggregation upstream is evaluated exactly once
    * (a per-band unionAll would re-run it numBands times).
    */
  def lshBands(signature: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame =
    signature.select(
      col("id"),
      posexplode(
        array((0 until numHashes / rowsPerBand).map(b =>
          concat_ws(
            "|",
            (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)): _*)))
      .toDF("id", "band", "bkey")

  /** Full MinHash-LSH near-dup pipeline: candidates from band-bucket
    * collisions, verified with exact token-set Jaccard >= `threshold`.
    * Returns (doc_a, doc_b, jaccard) with jaccard rounded to 4 places.
    *
    * Scale/execution shape: shingle sets and signatures are row-local array
    * computations (no explode, no signature shuffle); the only shuffles are
    * the band-bucket window and the candidate equi-join. The two
    * multi-consumer intermediates (`withSh`: both verify sides; `bands`:
    * both self-join sides) are materialized with `localCheckpoint` — the
    * unmaterialized version of this pipeline re-executed its subtree per
    * consumer (measured ~20x recompute, 499 s at sf0.1 vs <10 s).
    */
  /** Row-local distinct shingle arrays, one row per doc, checkpointed
    * (multi-consumer: band derivation + verify sides). See the execution
    * notes on [[minHashLsh]].
    */
  private def shingleArrays(
      docs: DataFrame,
      shingle: Int,
      textCol: String,
      idCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("tks"))
      .filter(size(col("tks")) >= shingle)
      .select(
        col("id"),
        array_distinct(
          transform(
            sequence(lit(0), size(col("tks")) - shingle),
            i => concat_ws(" ", (0 until shingle).map(j => element_at(col("tks"), i + j + 1)): _*)))
          .as("sh"))
      .localCheckpoint()

  /** (id, band, bkey) rows from the native minhash signature (one compiled
    * pass per row; the HOF equivalent pays interpreted-lambda + allocation
    * costs per (element, hash) — MinHashSpec asserts bit-identity).
    */
  private def bandTable(withSh: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sig = withSh
      .select(
        col("id"),
        graft.functions.MinHashSignature.minhash_signature(col("sh"), numHashes).as("mhs"))
      .select(
        col("id") +: (0 until numHashes).map(k =>
          element_at(col("mhs"), k + 1).as(s"mh$k")): _*)
    lshBands(sig, numHashes, rowsPerBand)
  }

  def minHashLsh(
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // Shingle SETS and minhash signatures are computed ROW-LOCALLY: one
    // array column per doc instead of an exploded (id, shingle) table. This
    // removes the widest shuffle of the old shape (explode to ~200 rows/doc,
    // then an 8-way min hash-agg back to one row/doc) and shrinks the
    // materialized intermediate from |corpus|·|shingles| rows to |corpus|
    // rows — the executor-memory profile that survives a noisy/contended
    // host. `tks` is projected to a column before the gram lambda references
    // it (HOF lambdas evaluate interpreted; an inline tokens() expression
    // re-splits the text per element_at).
    val withSh = shingleArrays(docs, shingle, textCol, idCol)
    // bandTable runs the native minhash signature per doc — expensive, and
    // capHotKeys scans its input twice (agg branch + anti-join left), so
    // the band table is materialized once before the cap
    val bands0 = bandTable(withSh, numHashes, rowsPerBand).localCheckpoint()
    // hot-bucket guard: a bucket of boilerplate text with B members yields
    // B² candidate pairs; capping bucket size bounds the self-join skew
    // (pairs in dropped buckets can still surface via their other bands).
    // Agg + anti-join (Skew.capHotKeys), not a window count — the hot
    // bucket the cap exists for is exactly the key a window partitioning
    // would serialize on one reducer.
    val bands = Skew
      .capHotKeys(bands0, Seq("band", "bkey"), maxBucket)
      .localCheckpoint() // numBands rows/doc; both sides of the self-join
    val candidates = bands
      .as("x")
      .join(
        bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .distinct()
    // verify: exact set Jaccard via array_intersect on the per-doc shingle
    // arrays — candidates are band-collision survivors (bounded by the
    // bucket cap), so this join moves only |candidates| array payloads.
    candidates
      .join(withSh.select(col("id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(withSh.select(col("id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn(
        "jaccard",
        round(
          col("inter").cast("double") /
            (size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter")),
          4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Cross-corpus near-duplicate detection: for every `probe` doc (a
    * benchmark/eval set), find `corpus` docs (the training set) whose
    * shingle-set Jaccard >= `threshold` — document-level decontamination,
    * the near-dup complement of [[graft.ops.Corpus.contaminationNgrams]]'
    * exact n-gram audit (verbatim leaks n-grams catch; paraphrased/
    * re-crawled leaks need similarity).
    *
    * Same LSH machinery as [[minHashLsh]] but the band join is
    * probe x corpus instead of a self-join: candidates are bounded by
    * band collisions, the hot-bucket cap applies to the CORPUS side (the
    * big one — a boilerplate bucket there would pair with every probe),
    * and only |candidates| shingle arrays move to the verify join. The
    * probe side is typically tiny (a benchmark), so its band table
    * broadcasts and the corpus is never shuffled beyond its band pass.
    */
  def crossMinHashLsh(
      probe: DataFrame,
      corpus: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val shC = shingleArrays(corpus, shingle, textCol, idCol)
    // corpus-side hot-bucket cap via agg + anti-join, same reasoning as
    // [[minHashLsh]] — the corpus is the 100 TB side; its band table is
    // materialized before the cap's two scans so the minhash signatures
    // are computed once, not twice
    val bandsC = Skew.capHotKeys(
      bandTable(shC, numHashes, rowsPerBand).localCheckpoint(),
      Seq("band", "bkey"),
      maxBucket)
    crossProbe(probe, bandsC, shC, numHashes, rowsPerBand, threshold, shingle, textCol, idCol)
  }

  /** Shared probe-vs-corpus band join + Jaccard verify over prepared
    * corpus band/shingle tables ([[crossMinHashLsh]] computes them
    * in-flight; [[probeLshIndex]] reads them from a persisted index).
    */
  private def crossProbe(
      probe: DataFrame,
      bandsC: DataFrame,
      shC: DataFrame,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      shingle: Int,
      textCol: String,
      idCol: String): DataFrame = {
    val shP = shingleArrays(probe, shingle, textCol, idCol)
    val bandsP = bandTable(shP, numHashes, rowsPerBand)
    val candidates = bandsP
      .as("x")
      .join(
        bandsC.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.id").as("probe_id"), col("y.id").as("corpus_id"))
      .distinct()
    candidates
      .join(shP.select(col("id").as("probe_id"), col("sh").as("sha")), Seq("probe_id"))
      .join(shC.select(col("id").as("corpus_id"), col("sh").as("shb")), Seq("corpus_id"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn(
        "jaccard",
        round(
          col("inter").cast("double") /
            (size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter")),
          4))
      .filter(col("jaccard") >= threshold)
      .select("probe_id", "corpus_id", "jaccard")
  }

  /** Persist the corpus side of the LSH machinery — the RAW band table
    * and the per-doc shingle arrays — so every future re-crawl round
    * probes WITHOUT re-shingling or re-hashing the existing corpus: the
    * text-near-dup analogue of [[graft.ops.Similarity.writeIvfFlatIndex]]'s
    * build-once/probe-many lifecycle, and the similarity complement of
    * [[incrementalNew]]'s exact-fingerprint history. At 100 TB the corpus
    * pays its shingle+minhash pass once per snapshot; a batch probe then
    * costs |batch| band rows + |collisions| verify joins.
    *
    * Bands are stored UNcapped: the hot-bucket cap is a corpus-GLOBAL
    * property, and an index that grows via [[appendLshIndex]] cannot know
    * at write time which buckets will end up hot — so [[probeLshIndex]]
    * applies [[graft.ops.Skew.capHotKeys]] over the whole store at probe
    * time (one cheap aggregation of the band columns; the hot bucket
    * partial-aggregates map-side as always).
    *
    * The probe must hash with the SAME (numHashes, rowsPerBand, shingle)
    * the index was built with — the build parameters persist in a
    * one-row `params` parquet, and [[appendLshIndex]]/[[probeLshIndex]]
    * REFUSE a mismatched caller instead of silently producing
    * meaningless band collisions.
    */
  def writeLshIndex(
      corpus: DataFrame,
      path: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingle: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // full rebuild replaces the index: stale tombstones must not subtract
    Similarity.clearTombstones(spark, path)
    val shC = shingleArrays(corpus, shingle, textCol, idCol)
    bandTable(shC, numHashes, rowsPerBand).write.mode("overwrite").parquet(s"$path/bands")
    shC.write.mode("overwrite").parquet(s"$path/shingles")
    Seq((numHashes, rowsPerBand, shingle))
      .toDF("num_hashes", "rows_per_band", "shingle")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Validate caller parameters against the index's persisted `params`
    * row — a mismatch corrupts results silently otherwise (bands hashed
    * under different k never collide correctly).
    */
  private def requireLshParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numHashes: Int,
      rowsPerBand: Int,
      shingle: Int): Unit = {
    val p = spark.read.parquet(s"$path/params").collect().head
    val stored = (p.getInt(0), p.getInt(1), p.getInt(2))
    require(
      stored == ((numHashes, rowsPerBand, shingle)),
      s"LSH index at $path was built with (numHashes, rowsPerBand, shingle) = $stored, " +
        s"caller passed (${numHashes}, ${rowsPerBand}, ${shingle})")
  }

  /** Grow a persisted LSH index with a new batch's bands and shingles —
    * the ingest-side companion of [[probeLshIndex]]: probe the batch
    * against the index, keep/land what survives, then append it so the
    * NEXT round's probe sees it. Plain parquet appends; the global
    * hot-bucket cap is applied at probe time (see [[writeLshIndex]]), so
    * appends never need to rewrite history.
    */
  def appendLshIndex(
      batch: DataFrame,
      path: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingle: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    requireLshParams(batch.sparkSession, path, numHashes, rowsPerBand, shingle)
    val sh = shingleArrays(batch, shingle, textCol, idCol)
    bandTable(sh, numHashes, rowsPerBand).write.mode("append").parquet(s"$path/bands")
    sh.write.mode("append").parquet(s"$path/shingles")
  }

  /** Probe a persisted LSH index ([[writeLshIndex]], optionally grown by
    * [[appendLshIndex]]) with a new batch: identical results to
    * [[crossMinHashLsh]] over the same corpus (same band join, same
    * global hot-bucket cap, same Jaccard verify), but the corpus-side
    * shingling and minhashing are read back, not recomputed. Tombstoned
    * doc ids ([[graft.ops.Similarity.deleteFromIndex]] against this
    * path) are subtracted from the band table BEFORE the hot-bucket cap,
    * so a retracted document neither surfaces as a match nor inflates a
    * bucket toward the cap.
    */
  def probeLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      probe: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    requireLshParams(spark, path, numHashes, rowsPerBand, shingle)
    crossProbe(
      probe,
      Skew.capHotKeys(
        Similarity.minusTombstones(spark, path, spark.read.parquet(s"$path/bands"), "id"),
        Seq("band", "bkey"),
        maxBucket),
      spark.read.parquet(s"$path/shingles"),
      numHashes, rowsPerBand, threshold, shingle, textCol, idCol)
  }

  /** Compact a persisted LSH index: physically drop tombstoned docs from
    * both the band table and the shingle store (folding any
    * [[appendLshIndex]] generations into one file set each), then clear
    * the tombstones — probe results unchanged by contract, same
    * tmp-and-swap recipe as [[graft.ops.Similarity.compactIvfIndex]].
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    Similarity.compactIndexDir(spark, path, "bands", "id")
    Similarity.compactIndexDir(spark, path, "shingles", "id")
    Similarity.clearTombstones(spark, path)
  }

  /** The near-dup survivor stage shared by [[ingestLshBatch]] and the
    * batch-maintenance facade ([[graft.api.Pipeline.prepareIncremental]]):
    * collapse the batch's own near-dup clusters to one representative
    * (min id per [[clusterPairs]] component), then drop survivors that
    * are near-dups of the persisted LSH index at `path` —
    * `beforeBatch = Some(n)` restricts the history to generations
    * strictly before micro-batch `n` (the streaming retry contract);
    * `None` probes the whole store. Returns the surviving batch rows
    * with all their columns; a missing/bandless store means no history
    * to drop against.
    */
  def nearDupSurvivors(
      batch: DataFrame,
      path: String,
      beforeBatch: Option[Long] = None,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = batch.sparkSession
    val reps = keepFromClusters(
      batch,
      clusterPairs(
        minHashLsh(batch, numHashes, rowsPerBand, threshold, shingle, maxBucket, textCol, idCol)),
      idCol).withColumnRenamed("doc_id", "__rep_id")
    val inBatch = batch.join(reps, col(idCol).cast("long") === col("__rep_id")).drop("__rep_id")
    if (!Similarity.storeExists(spark, s"$path/bands")) return inBatch
    def gen(df: DataFrame): DataFrame = beforeBatch match {
      case Some(n) => df.filter(col("batch_id") < n)
      case None => df
    }
    val hist = gen(spark.read.parquet(s"$path/bands"))
    val histSh = gen(spark.read.parquet(s"$path/shingles"))
    val hits = crossProbe(
      inBatch,
      Skew.capHotKeys(
        Similarity.minusTombstones(spark, path, hist, "id"),
        Seq("band", "bkey"),
        maxBucket),
      histSh,
      numHashes, rowsPerBand, threshold, shingle, textCol, idCol)
    inBatch.join(
      hits.select(col("probe_id")),
      col(idCol).cast("long") === col("probe_id"),
      "left_anti")
  }

  /** EXACT near-dup survivor stage — [[nearDupSurvivors]]'s
    * zero-false-negative sibling over the persisted set-join prefix index
    * ([[writeSetJoinIndex]]): where LSH banding can MISS a qualifying
    * pair (probabilistic recall by design), the prefix filter is lossless,
    * so a batch doc whose shingle-Jaccard reaches the index's threshold
    * against history or against a kept batch doc is dropped with
    * certainty. Drop rule, from [[probeSetJoinIndex]]'s (doc_a < doc_b)
    * pairs: a batch doc drops iff it pairs with ANY history doc, or with
    * a SMALLER-id batch doc — so no two kept docs pair with each other
    * and no kept doc pairs with history (both by construction: a
    * kept-kept or kept-history pair would have dropped its larger/batch
    * end). Like the LSH stage, the caller appends the survivors
    * ([[appendSetJoinIndex]]) to grow history. A missing store means no
    * index yet — the batch self-join [[setSimilarityJoin]] still
    * deduplicates in-batch.
    *
    * Scale shape: one [[probeSetJoinIndex]] (batch prefixes vs matching
    * postings — history never self-joins) plus two id anti-joins on the
    * candidate-bounded pair table.
    */
  def exactDupSurvivors(
      batch: DataFrame,
      path: String,
      thresholdMilli: Int = 800,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = batch.sparkSession
    val pairs =
      if (Similarity.storeExists(spark, s"$path/params"))
        probeSetJoinIndex(spark, path, batch, thresholdMilli, n, textCol, idCol)
      else setSimilarityJoin(batch, thresholdMilli, n, textCol, idCol)
    survivorsFromPairs(batch, pairs, idCol)
  }

  /** The drop rule shared by [[exactDupSurvivors]] and
    * [[tokenEditSurvivors]]: given (doc_a < doc_b) duplicate pairs, every
    * pair's larger end that is a batch doc drops (its partner is either
    * history or a smaller batch doc); the smaller end drops only when the
    * larger end is history.
    */
  private def survivorsFromPairs(
      batch: DataFrame,
      pairsRaw: DataFrame,
      idCol: String): DataFrame = {
    val pairs = pairsRaw.localCheckpoint() // consumed by both drop rules
    val bids = batch.select(col(idCol).cast("long").as("bid")).distinct().localCheckpoint()
    val dropB = pairs
      .join(bids, col("doc_b") === col("bid"), "left_semi")
      .select(col("doc_b").as("drop_id"))
    val dropA = pairs
      .join(bids, col("doc_b") === col("bid"), "left_anti")
      .join(bids, col("doc_a") === col("bid"), "left_semi")
      .select(col("doc_a").as("drop_id"))
    batch.join(
      dropB.unionAll(dropA).distinct(),
      col(idCol).cast("long") === col("drop_id"),
      "left_anti")
  }

  /** [[exactDupSurvivors]]' TOKEN-EDIT sibling — the re-crawled
    * one-word-changed page, the token-edit join's whole reason to exist,
    * gets the same zero-false-negative incremental guarantee: probe the
    * persisted signature index at `path` ([[probeTokenEditIndex]] — every
    * ed≤1 pair touching the batch, exactly), or fall back to the in-batch
    * [[tokenEditJoin]] when no store exists, then apply the shared drop
    * rule (larger batch end drops; smaller end drops only to history).
    * Same cost shape as the set-join stage: |batch| signing + equi-joins
    * against the posting store, history never self-joins.
    */
  def tokenEditSurvivors(
      batch: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = batch.sparkSession
    val pairs =
      if (Similarity.storeExists(spark, s"$path/params"))
        probeTokenEditIndex(spark, path, batch, textCol, idCol)
      else tokenEditJoin(batch, textCol, idCol)
    survivorsFromPairs(batch, pairs, idCol)
  }

  /** One micro-batch of STREAMING near-dup ingest (the foreachBatch body
    * of [[graft.streaming.CorpusIngest.nearDedupIngest]]) — the
    * "probe → keep what survives → append" protocol of [[appendLshIndex]]
    * automated with exactly-once semantics:
    *
    *   1. batch 0 (or the first non-empty batch — empty leading batches
    *      no-op without consuming the slot) claims the store: any stale
    *      subtree is deleted and the hash parameters are frozen in
    *      `params` — the [[graft.ops.Similarity.ingestIvfBatch]]
    *      re-pointing contract;
    *   2. in-batch near-dups collapse to one representative per
    *      [[clusterPairs]] component (min id);
    *   3. survivors probe the index restricted to generations strictly
    *      BEFORE this batch id — so a checkpoint-retried batch never
    *      probes its own half-written bands and drops itself — and
    *      near-dups of history are discarded;
    *   4. what remains lands under `bands`/`shingles`/`docs`
    *      `batch_id=N` dirs with overwrite semantics (a retried batch
    *      rewrites itself instead of duplicating).
    *
    * [[probeLshIndex]] reads the grown store unchanged; tombstone deletes
    * and [[compactLshIndex]] apply as for a batch-built index (compaction
    * folds the generations into one `batch_id=-1` dir, so the stream can
    * keep growing afterwards). At 100 TB each round costs |batch|
    * shingling plus band-collision joins against the (capped) history
    * band table — the corpus text is never rescanned.
    */
  def ingestLshBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // Claim BEFORE the empty check (StoreLifecycle's rule — content-free
    // params, so even an empty batch 0 wipes a previous run's store;
    // otherwise batch 1 would probe the dead run's corpus and silently
    // drop batch docs as near-dups of another stream).
    StoreLifecycle.claim(
      spark,
      path,
      Seq("bands", "shingles", "docs", "tombstones"),
      batchId,
      () =>
        Seq((numHashes, rowsPerBand, shingle))
          .toDF("num_hashes", "rows_per_band", "shingle")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/params"),
      () => requireLshParams(spark, path, numHashes, rowsPerBand, shingle))
    if (batch.isEmpty) return // nothing to probe or land
    val kept = nearDupSurvivors(
      batch, path, Some(batchId),
      numHashes, rowsPerBand, threshold, shingle, maxBucket, textCol, idCol)
      .localCheckpoint() // three writes below
    val sh = shingleArrays(kept, shingle, textCol, idCol)
    bandTable(sh, numHashes, rowsPerBand)
      .write.mode("overwrite").parquet(s"$path/bands/batch_id=$batchId")
    sh.write.mode("overwrite").parquet(s"$path/shingles/batch_id=$batchId")
    kept
      .select(col(idCol), col(textCol))
      .write.mode("overwrite").parquet(s"$path/docs/batch_id=$batchId")
  }

  /** Connected components over near-dup pairs: every doc that appears in a
    * pair gets `cluster_id` = the minimum doc id reachable through the pair
    * graph. This is the step that turns pairwise dedup output into an
    * actionable keep/drop decision (keep `doc_id == cluster_id`, drop the
    * rest) — without it, transitive groups A~B, B~C leave both pairs in the
    * corpus.
    *
    * Execution shape: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — O(log n) rounds on ANY graph, vs the O(diameter) of
    * min-label flooding (round 1-10's loop). The difference is real at
    * corpus scale: boilerplate-heavy crawls produce CHAIN-shaped near-dup
    * clusters (page 1 ~ page 2 ~ page 3 ...), and a length-d chain costs
    * a flooding loop d shuffles where star contraction pays ~log d
    * (each large-star re-points every node past its parent straight at
    * its neighborhood min, halving-or-better the depth per round; see
    * the chain spec). Each round is two neighborhood-min aggregations +
    * two id-keyed equi-joins — uniformly hashed, map-side-combinable —
    * and the edge set is materialized per round so round N's plan never
    * embeds rounds 1..N-1 (the IVF lineage lesson). Fixpoint = the edge
    * set stops changing (set equality: same count and empty difference —
    * one count + one anti-join count per round, both on the
    * just-checkpointed set); at fixpoint the edges are exactly one star
    * per component centered at its minimum (a chain u→p→g is not a
    * large-star fixpoint, and an oriented star's center cannot exceed a
    * child, so the center is the component min). A hot component is a
    * skewed-but-bounded aggregation key, same as the flooding loop.
    */
  def clusterPairs(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val nodes = pairs
      .select(col(aCol).as("id"))
      .unionAll(pairs.select(col(bCol).as("id")))
      .distinct()
      .localCheckpoint()
    val stars = ccStarContraction(pairs.select(col(aCol).as("u"), col(bCol).as("v")))._1
    // roots carry no child edge: the left join re-seats them as their own
    // representative (and keeps the contract total for any caller)
    nodes
      .join(stars.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id").as("doc_id"), coalesce(col("v"), col("id")).as("cluster_id"))
  }

  /** The two-phase star contraction kernel behind [[clusterPairs]]:
    * returns the converged child→parent star edges `(u, v)` (every
    * non-root node exactly once, v = its component min) and the round
    * count the spec bounds. Both operators preserve connectivity and
    * never lose a node: large-star at u re-points each LARGER neighbor at
    * min(Γ(u) ∪ u); small-star re-points each smaller-or-equal neighbor
    * (and u itself) at the neighborhood min. `maxRounds` is a fail-fast
    * guard, far above the log₂ bound of any realistic component.
    */
  /** Small-graph cutoff for [[ccStarContraction]]'s single-task fast path,
    * in DEDUPED EDGE ROWS. The distributed contraction pays ~10 driver
    * jobs per round (two aggregations, two joins, a distinct, the
    * checkpoint, and the fixpoint probe — measured 57 jobs / ~3 s warm
    * for a 15k-node graph at sf0.1, all scheduling, no data); a graph
    * whose edge set fits one task's memory answers the SAME canonical
    * labels (component-minimum ids are algorithm-independent) in ONE job
    * via path-compressed union-find. Default 500k edges (the round-17
    * advisory's boxed-map arithmetic, applied here too): the
    * HashMap[Long, Long] parent table costs ~70-90 bytes per NODE (boxed
    * keys + values + table slack), and e edges can touch up to 2e nodes,
    * so 500k edges ≈ ≤1M nodes ≈ 80-90 MB of one-task state — inside any
    * sane executor, where the old 1M-edge default's worst case (~180 MB)
    * was optimistic as "tens of MB". Union-find work is near-linear
    * (inverse-Ackermann), so unlike the triangle kernels there is no
    * quadratic compute cliff — memory is the only sizing concern; raise
    * the conf with executor memory to spare. Corpus-scale inputs keep
    * the O(log n) distributed rounds. Conf-settable (0 disables the fast
    * path; the specs pin local ≡ distributed on the same graphs).
    */
  private def ccLocalCutoff(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.cc.localEdgeCutoff", "500000").toLong

  /** The single-task CC solve behind the fast path: path-compressed
    * union-find whose unions always point the larger root at the smaller,
    * so every root is its component's minimum id by induction — exactly
    * the converged star edges the distributed contraction returns (one
    * row per non-root node, v = component min). Input must be the
    * deduped, (u > v)-oriented, LOCALLY CHECKPOINTED edge set (coalesce
    * then reads materialized blocks into one task instead of collapsing
    * the upstream stage's parallelism).
    */
  private def ccLocalStars(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("u"), col("v"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        def find(x0: Long): Long = {
          var x = x0
          while (parent.get(x) != x) x = parent.get(x)
          var y = x0 // second pass: full path compression
          while (y != x) { val nxt = parent.get(y); parent.put(y, x); y = nxt }
          x
        }
        def add(x: Long): Unit =
          if (!parent.containsKey(x)) parent.put(x, x)
        it.foreach { case (a, b) =>
          add(a); add(b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val keys = parent.keySet().iterator()
        while (keys.hasNext) {
          val n = keys.next().longValue()
          val r = find(n)
          if (r != n) out += ((n, r))
        }
        out.iterator
      }
      .toDF("u", "v")
  }

  /** [[clusterPairs]] for a PRE-NORMALIZED edge table — the graph-store
    * mutators' entry ([[graft.ops.Graph]] writeCcStore / removeFromCcStore
    * hand it their already undirected-normalized, deduped, LOCALLY
    * CHECKPOINTED edge sets): the generic path would re-derive a nodes
    * table (union + distinct + checkpoint) and re-normalize inside the
    * contraction (another distinct shuffle + checkpoint) — 4-5 driver
    * jobs of pure re-work per call at store scale. Here the orientation
    * flip is one projection over the checkpointed blocks (distinctness
    * and u != v survive a flip), and the labels come straight off the
    * converged stars: every component of an EDGE table has >= 2 nodes,
    * so stars hold every non-root and the distinct star parents are
    * exactly the roots, each seating itself — identical rows to
    * `clusterPairs(und)` by the kernel contract (one row per node,
    * comp = component minimum).
    *
    * Input contract: columns (u, v) LongType, u != v, distinct rows,
    * locally checkpointed.
    */
  private[graft] def ccLabelsOfEdges(und: DataFrame): DataFrame = {
    val flipped = und.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val stars = ccStarsOnNormalized(flipped)._1
    stars
      .select(col("u").as("node"), col("v").as("comp"))
      .unionAll(stars.select(col("v").as("node"), col("v").as("comp")).distinct())
  }

  private[graft] def ccStarContraction(
      edges0: DataFrame,
      maxRounds: Int = 60): (DataFrame, Int) =
    ccStarsOnNormalized(
      edges0
        .filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
        .localCheckpoint(),
      maxRounds)

  /** The contraction loop over an already (u > v)-oriented, deduped,
    * materialized edge set — shared by [[ccStarContraction]] (which
    * normalizes first) and [[ccLabelsOfEdges]] (whose callers already
    * did).
    */
  private def ccStarsOnNormalized(
      edges0: DataFrame,
      maxRounds: Int = 60): (DataFrame, Int) = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs
        .groupBy("u")
        .agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      nbrs
        .join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = o.groupBy("u").agg(min("v").as("m"))
      o.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }
    var e = edges0
    var n = e.count()
    // scale-adaptive kernel choice (the AQE-broadcast move, one level up):
    // a deduped edge set inside one task's memory takes the single-job
    // union-find; only LongType ids qualify (the closure's contract — a
    // cast here would silently retype every caller's label column)
    if (n > 0L && n <= ccLocalCutoff(e.sparkSession) &&
      e.schema("u").dataType == org.apache.spark.sql.types.LongType &&
      e.schema("v").dataType == org.apache.spark.sql.types.LongType)
      return (ccLocalStars(e), 0)
    var rounds = 0
    var done = n == 0L
    while (!done) {
      rounds += 1
      require(
        rounds <= maxRounds,
        s"star contraction did not converge in $maxRounds rounds — cyclic id ordering?")
      val next = smallStar(largeStar(e)).localCheckpoint()
      val m = next.count()
      done = m == n && next.exceptAll(e).isEmpty
      n = m
      e = next
    }
    (e, rounds)
  }

  /** The dedup endgame: the corpus with every non-representative cluster
    * member dropped (representative = min doc id per connected component).
    * One left-anti join against the (small) drop-list — the shape that
    * holds when the corpus is 100 TB and the dup clusters are a fraction
    * of it.
    */
  def keepRepresentatives(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame =
    keepFromClusters(docs, clusterPairs(pairs), idCol)

  /** [[keepRepresentatives]] over precomputed [[clusterPairs]] labels —
    * for callers that also feed the labels elsewhere (e.g.
    * [[graft.ops.Corpus.clusterSafeSplitFromClusters]]): clusterPairs is
    * an iterative, per-round-materialized job, so running it once and
    * sharing the labels matters.
    */
  def keepFromClusters(docs: DataFrame, clusters: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"))
      .join(
        clusters.filter(col("cluster_id") =!= col("doc_id")),
        Seq("doc_id"),
        "left_anti")

  /** Dedup savings datacard: what near-dup dedup is actually WORTH, per
    * source — the number every dedup proposal gets asked first. Joins the
    * corpus against a cluster map ([[clusterPairs]] /
    * [[writeClusterMap]]'s `(doc_id, cluster_id)` rows, representative =
    * `cluster_id == doc_id`) and reports per source: docs, duplicate docs
    * (non-representative members), total tokens, duplicate tokens, and
    * `savings_milli` — the per-mille of the source's token mass that
    * dedup would drop. A source with high savings is crawl-redundant;
    * near-zero savings means dedup budget is better spent elsewhere.
    *
    * Scale shape: token counts are a per-row projection (no explode —
    * `size` of the token array); the map join is doc_id-keyed against the
    * (tiny relative to text) cluster map with the text column never
    * joined; the rollup is one |sources|-key aggregation.
    */
  def dedupSavings(
      docs: DataFrame,
      clusters: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      srcCol: String = "source"): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        col(srcCol).as("source"),
        coalesce(size(graft.ops.TextAnalysis.tokens(col(textCol))), lit(0))
          .cast("long").as("__nt"))
      .join(
        clusters
          .filter(col("cluster_id") =!= col("doc_id"))
          .select("doc_id")
          .withColumn("__dup", lit(1L)),
        Seq("doc_id"),
        "left")
      .groupBy("source")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).cast("long").as("n_dup_docs"),
        sum(col("__nt")).cast("long").as("tokens_total"),
        sum(when(col("__dup").isNotNull, col("__nt")).otherwise(0L)).cast("long").as("tokens_dup"))
      .withColumn(
        "savings_milli",
        expr("1000 * tokens_dup div greatest(tokens_total, 1)").cast("long"))

  /** Quality-aware dedup endgame: like [[keepRepresentatives]], but each
    * near-dup cluster keeps its HIGHEST-scoring member (ties → lowest id)
    * instead of blindly the lowest id — the policy real pipelines want,
    * where a re-crawl's cleaner copy should beat the first-seen truncated
    * one. `score` must be a deterministic per-row expression (integerized
    * quality, length, ...) for the result to be reproducible.
    *
    * Skew posture: the best member comes from a max-struct aggregation
    * per cluster — map-side partials collapse a boilerplate mega-cluster
    * before it shuffles; no window over the cluster id.
    */
  def keepBestRepresentatives(
      docs: DataFrame,
      pairs: DataFrame,
      score: Column,
      idCol: String = "doc_id"): DataFrame =
    keepBestFromClusters(docs, clusterPairs(pairs), score, idCol)

  /** [[keepBestRepresentatives]] over precomputed [[clusterPairs]] labels
    * (or a persisted cluster map) — the keep-best face of the shared-
    * labels discipline ([[keepFromClusters]]).
    */
  def keepBestFromClusters(
      docs: DataFrame,
      clusters: DataFrame,
      score: Column,
      idCol: String = "doc_id"): DataFrame = {
    val scored = docs
      .select(col(idCol).cast("long").as("doc_id"), score.as("__s"))
      .join(clusters, Seq("doc_id"))
    val best = scored
      .groupBy("cluster_id")
      .agg(max(struct(col("__s"), (-col("doc_id")).as("negid"))).as("b"))
      .select(col("cluster_id"), (-col("b.negid")).as("best_id"))
    val drop = scored
      .join(best, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("best_id"))
      .select("doc_id")
    docs
      .select(col(idCol).cast("long").as("doc_id"))
      .join(drop, Seq("doc_id"), "left_anti")
  }

  /** Persist the near-dup CLUSTER MAP — the [[clusterPairs]] connected-
    * component labels of the MinHash-LSH pair graph — as a probeable
    * artifact, the same build-once/probe-many discipline the repo applies
    * to the LSH/IVF/PQ/chunk indexes. The CC family ([[keepFromClusters]],
    * [[keepBestFromClusters]], [[graft.ops.Corpus
    * .clusterSafeSplitFromClusters]]) previously re-ran shingle → minhash
    * → band join → iterative CC per consumer; against a persisted map each
    * is ONE broadcast-ready equi-join. At 100 TB the map is rebuilt once
    * per corpus snapshot (the CC fixpoint is inherently global — pairs
    * discovered by a new batch can merge OLD clusters, so unlike the LSH
    * store it cannot be grown append-only) and probed by every downstream
    * keep/split/sample run.
    *
    * Layout: `clusters` (doc_id, cluster_id — only docs that appear in
    * some near-dup pair, exactly [[clusterPairs]]' contract) plus a
    * one-row `params` parquet; [[readClusterMap]] REFUSES parameters that
    * differ from the build, because labels from a different
    * shingle/band/threshold geometry are silently different clusterings.
    */
  def writeClusterMap(
      docs: DataFrame,
      path: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    clusterPairs(
      minHashLsh(docs, numHashes, rowsPerBand, threshold, shingle, maxBucket, textCol, idCol))
      .write.mode("overwrite").parquet(s"$path/clusters")
    Seq((numHashes, rowsPerBand, threshold, shingle, maxBucket))
      .toDF("num_hashes", "rows_per_band", "threshold", "shingle", "max_bucket")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Read back a persisted cluster map ([[writeClusterMap]]) after
    * validating the caller's parameters against the stored build params.
    */
  def readClusterMap(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50): DataFrame = {
    val p = spark.read.parquet(s"$path/params").collect().head
    val stored = (p.getInt(0), p.getInt(1), p.getDouble(2), p.getInt(3), p.getInt(4))
    require(
      stored == ((numHashes, rowsPerBand, threshold, shingle, maxBucket)),
      s"cluster map at $path was built with (numHashes, rowsPerBand, threshold, shingle, " +
        s"maxBucket) = $stored, caller passed (${numHashes}, ${rowsPerBand}, ${threshold}, " +
        s"${shingle}, ${maxBucket})")
    spark.read.parquet(s"$path/clusters")
  }

  /** The batch-local incremental-clustering graph shared by
    * [[assignClusters]] and [[clusterMergeAudit]]: batch↔history near-dup
    * pairs from a probe of the persisted LSH index (history is never
    * re-shingled), with the history endpoint of every cross pair mapped
    * through the persisted cluster map (a doc in no pair is its own
    * singleton cluster), plus the batch's INTERNAL near-dup pairs.
    * Returns (min-label CC over that graph, the distinct history-cluster
    * nodes the batch touched). The graph is |batch pairs|-sized — the
    * 100 TB corpus participates only through the index probe and one
    * broadcast-ready equi-join against the (small) cluster map.
    */
  private def incrementalClusterState(
      spark: org.apache.spark.sql.SparkSession,
      lshPath: String,
      mapPath: String,
      batch: DataFrame,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      shingle: Int,
      maxBucket: Int,
      textCol: String,
      idCol: String): (DataFrame, DataFrame) = {
    val cross = probeLshIndex(
      spark, lshPath, batch, numHashes, rowsPerBand, threshold, shingle, maxBucket,
      textCol, idCol)
    val clusters =
      readClusterMap(spark, mapPath, numHashes, rowsPerBand, threshold, shingle, maxBucket)
    val crossLabeled = cross
      .join(clusters.withColumnRenamed("doc_id", "corpus_id"), Seq("corpus_id"), "left")
      .select(
        col("probe_id").as("doc_a"),
        coalesce(col("cluster_id"), col("corpus_id")).as("doc_b"))
      .localCheckpoint() // feeds both the CC loop and the hist-node census
    val within = minHashLsh(
      batch, numHashes, rowsPerBand, threshold, shingle, maxBucket, textCol, idCol)
      .select("doc_a", "doc_b")
    val labels = clusterPairs(crossLabeled.unionAll(within))
    (labels, crossLabeled.select(col("doc_b").as("hist_cluster")).distinct())
  }

  /** Incremental cluster assignment: label a NEW batch against a frozen
    * corpus snapshot — persisted LSH index ([[writeLshIndex]]) + persisted
    * cluster map ([[writeClusterMap]]) — without re-running the global
    * MinHash → LSH → CC job. Each batch doc that lands in some near-dup
    * pair (batch↔history via the index probe, or batch↔batch) gets
    * `cluster_id` = the minimum id reachable through the batch-local
    * graph, where history docs enter AS their existing cluster label:
    * exactly a full rebuild over batch ∪ history restricted to paths that
    * touch the batch. Batch docs with no near-dup partner are absent
    * (the [[clusterPairs]] contract: no pair, no row — they are their own
    * singleton).
    *
    * What this deliberately does NOT do is rewrite history: a batch doc
    * bridging two OLD clusters shows up here with the smaller label, and
    * the bridged clusters surface in [[clusterMergeAudit]] as the rebuild
    * signal — the same grow-cheap/rebuild-on-drift lifecycle as the IVF
    * ingest's `cellDrift`. Between rebuilds the persisted map stays
    * frozen-but-auditable rather than silently stale.
    */
  def assignClusters(
      spark: org.apache.spark.sql.SparkSession,
      lshPath: String,
      mapPath: String,
      batch: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val (labels, _) = incrementalClusterState(
      spark, lshPath, mapPath, batch, numHashes, rowsPerBand, threshold, shingle,
      maxBucket, textCol, idCol)
    labels.join(
      batch.select(col(idCol).cast("long").as("doc_id")),
      Seq("doc_id"))
  }

  /** The rebuild signal for the incremental-clustering lifecycle: OLD
    * clusters that a new batch bridges. A history cluster node whose
    * batch-local CC label moved off its own id was connected — through
    * batch docs — to something smaller (another old cluster or a batch
    * doc); one row `(cluster_id, merged_into)` per such cluster. Empty
    * audit ⇒ the persisted map is still exact after [[assignClusters]];
    * a non-empty audit is the cue to re-run [[writeClusterMap]] over the
    * grown corpus (CC is inherently global — merges cannot be folded in
    * append-only, see [[writeClusterMap]]).
    */
  def clusterMergeAudit(
      spark: org.apache.spark.sql.SparkSession,
      lshPath: String,
      mapPath: String,
      batch: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      shingle: Int = 3,
      maxBucket: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val (labels, histNodes) = incrementalClusterState(
      spark, lshPath, mapPath, batch, numHashes, rowsPerBand, threshold, shingle,
      maxBucket, textCol, idCol)
    labels
      .join(histNodes, labels("doc_id") === histNodes("hist_cluster"))
      .filter(col("cluster_id") =!= col("hist_cluster"))
      .select(col("hist_cluster").as("cluster_id"), col("cluster_id").as("merged_into"))
  }

  /** 16-bit SimHash from token md5 nibbles: bit i votes +1 when the i-th
    * hex digit of md5(token) has its high bit set (8..f), else -1; the
    * fingerprint bit is the vote sign. Pure string ops — engine-portable.
    */
  def simHash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val perTok = tokenSet(docs, textCol, idCol)
      .withColumn("h", md5(col("tok")))
    val votes = (0 until 16).map { i =>
      sum(
        when(substring(col("h"), i + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1L)
          .otherwise(-1L)).as(s"v$i")
    }
    perTok
      .groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(
        col("id").as("doc_id"),
        (0 until 16)
          .map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _)
          .as("simhash"))
  }

  /** 60-bit SimHash (the wide variant [[simHash]]'s 16 bits are too narrow
    * to band at corpus scale): bit i (0..59) votes per distinct token by
    * bit (3 - i%4) of hex digit i/4 of md5(token); the fingerprint bit is
    * the vote sign. 60 bits — not 64 — keeps the fingerprint and every
    * band key in the positive BIGINT range on both engines. Same
    * execution shape as [[simHash]]: one distinct-token explode, one wide
    * aggregation, embarrassingly parallel.
    */
  def simHashWide(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // project the 15 hex-digit VALUES once (one substring+conv each), so the
    // 60 vote aggregates below are integer shifts over these columns, not 60
    // per-row string conversions (execution-only: same integers either way)
    val perTok = tokenSet(docs, textCol, idCol)
      .withColumn("h", md5(col("tok")))
      .select(
        col("id") +: (0 until 15).map(d =>
          conv(substring(col("h"), d + 1, 1), 16, 10).cast("int").as(s"d$d")): _*)
    val votes = (0 until 60).map { i =>
      val bit = shiftright(col(s"d${i / 4}"), 3 - i % 4).bitwiseAND(1)
      sum(when(bit === 1, 1L).otherwise(-1L)).as(s"v$i")
    }
    perTok
      .groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(
        col("id").as("doc_id"),
        (0 until 60)
          .map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _)
          .as("simhash"))
  }

  /** SimHash near-dup pairs by banded Hamming-ball probe: the 60-bit
    * fingerprint splits into 4 bands of 15 bits; candidates share at least
    * one exact band (pigeonhole: pairs within Hamming distance 3 ALWAYS
    * share one of 4 bands, so for `maxHamming` <= 3 the probe loses no
    * pair — UNLESS every band the pair shares is over the `maxBucket`
    * hot-bucket cap, whose members are dropped; recall is exact only
    * while each shared band's bucket stays under the cap); the verify
    * stage keeps pairs with `bit_count(xor) <= maxHamming`.
    *
    * Scale shape: candidates come from an equi-join on (band, band-key) —
    * a 15-bit key domain of 32k values per band spreads a large corpus
    * well, and the same hot-bucket cap as [[minHashLsh]] bounds the
    * worst case (a bucket of B identical-band docs otherwise pairs B²).
    * The fingerprint table feeds the band explode and both join sides, so
    * it is materialized once; the verify is a per-pair integer op.
    */
  def simHashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val fp = simHashWide(docs, textCol, idCol).localCheckpoint()
    // hot-bucket cap via agg + anti-join (Skew.capHotKeys), never a window
    // count: the degenerate band (empty-doc simhash 0) would serialize on
    // one reducer under a window partitioning. The capped result is
    // materialized because BOTH self-join sides consume it — without the
    // checkpoint the cap's aggregation + anti-join run twice.
    val bands = Skew.capHotKeys(
      fp.select(
        col("doc_id"),
        col("simhash"),
        posexplode(
          array((0 until 4).map(b =>
            shiftright(col("simhash"), 15 * b).bitwiseAND(32767L)): _*))
          .as(Seq("band", "bkey"))),
      Seq("band", "bkey"),
      maxBucket)
      .localCheckpoint()
    bands
      .as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("a.simhash").as("sa"),
        col("b.doc_id").as("doc_b"),
        col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Edit-distance verification of candidate near-dup pairs: joins the
    * texts back and scores each pair with Levenshtein distance and the
    * normalized similarity `1 - dist/max(len)`. The character-exact
    * complement of the shingle-Jaccard verify — catches small in-place
    * edits that re-crawls introduce, where token sets barely move.
    *
    * O(|a|·|b|) per pair, so it only ever runs AFTER candidate generation
    * (LSH bands) has bounded the pair count — never corpus x corpus. The
    * distance is projected once and the similarity derived from the
    * column (a second inline `levenshtein` would recompute the DP table).
    */
  def verifyEditDistance(
      pairs: DataFrame,
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    pairs
      .select(col("doc_a"), col("doc_b"))
      .join(docs.select(col(idCol).as("doc_a"), col(textCol).as("__ta")), Seq("doc_a"))
      .join(docs.select(col(idCol).as("doc_b"), col(textCol).as("__tb")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("edit_dist"),
        round(
          lit(1.0) - col("edit_dist").cast("double") /
            greatest(length(col("__ta")), length(col("__tb"))),
          4).as("similarity"))

  /** Image near-dup pairs over a perceptual-hash table (`doc_id, hash_hi,
    * hash_lo` — two 32-bit halves, e.g. [[graft.ops.Multimodal.bmpAHashes]]):
    * 4 bands of 16 bits, pigeonhole-complete for total Hamming distance <=
    * `maxHamming` (<= 3 with 4 bands) except for pairs whose every shared
    * band sits in a bucket over `maxBucket` (the cap drops those members),
    * integer xor/popcount verify. Same
    * scale posture as [[simHashPairs]] — equi-join on (band, key), hot
    * bucket cap, fingerprints materialized once — because once images are
    * hashed, image dedup IS the SimHash problem.
    */
  def aHashPairs(
      hashes: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val fp = hashes
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
      .localCheckpoint()
    // capped result checkpointed: both self-join sides consume it
    val bands = fpBandKeys(fp, Nil, maxBucket).localCheckpoint()
    bands
      .as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("a.hash_hi").as("ha"),
        col("a.hash_lo").as("la"),
        col("b.doc_id").as("doc_b"),
        col("b.hash_hi").as("hb"),
        col("b.hash_lo").as("lb"))
      .distinct()
      .withColumn("hamming", hamming64(col("ha"), col("la"), col("hb"), col("lb")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The one banding kernel every 64-bit fingerprint pairing speaks —
    * [[aHashPairs]]' self-join face and
    * [[graft.ops.Multimodal.probeMediaIndex]]'s bipartite probe: the four
    * 16-bit halves of (hash_hi, hash_lo) exploded to (band, bkey) keys,
    * `extraKeys` columns (e.g. a medium tag) riding along and
    * participating in the bucket identity, hot buckets capped via
    * aggregate + anti-join ([[graft.ops.Skew.capHotKeys]] — the
    * all-black/all-white hash-0 bucket must not serialize one reducer).
    * One definition, so the batch and ingest faces cannot silently
    * diverge on band width or cap semantics.
    */
  private[ops] def fpBandKeys(
      fp: DataFrame,
      extraKeys: Seq[String],
      maxBucket: Int): DataFrame =
    Skew.capHotKeys(
      fp.select(
        Seq(col("doc_id")) ++ extraKeys.map(col) ++ Seq(
          col("hash_hi"),
          col("hash_lo"),
          posexplode(
            array(
              col("hash_lo").bitwiseAND(65535L),
              shiftright(col("hash_lo"), 16).bitwiseAND(65535L),
              col("hash_hi").bitwiseAND(65535L),
              shiftright(col("hash_hi"), 16).bitwiseAND(65535L)))
            .as(Seq("band", "bkey"))): _*),
      extraKeys ++ Seq("band", "bkey"),
      maxBucket)

  /** Total Hamming distance between two 64-bit fingerprints held as
    * 32-bit halves — the verify stage shared by every banded pairing.
    */
  private[ops] def hamming64(ha: Column, la: Column, hb: Column, lb: Column): Column =
    (bit_count(ha.bitwiseXOR(hb)) + bit_count(la.bitwiseXOR(lb))).cast("long")

  /** Video (clip-level) near-dup pairs from per-frame perceptual hashes
    * ([[graft.ops.Multimodal.frameAHashes]]): the frame key
    * `doc_id * 1000 + frame_id` rides the EXACT [[aHashPairs]] machinery
    * (banded equi-join, hot-bucket cap, integer verify), then clip pairs
    * aggregate their matching frame pairs — `n_frame_pairs` matches with
    * `min_hamming`. The keep condition is >= `minShared` DISTINCT frames
    * on BOTH sides (`n_frames_a`/`n_frames_b`), not raw pair count: one
    * coincidental frame in clip A matching several near-identical frames
    * of clip B (consecutive title cards, static scenes) yields many pairs
    * but only one distinct A-side frame, and must not flag the clips as
    * duplicates. This is the standard
    * keyframe-hash video dedup: once frames are hashed, a re-encoded /
    * re-uploaded clip shows up as many near-zero-Hamming frame pairs.
    *
    * Scale shape = aHashPairs plus one count aggregation on (clip_a,
    * clip_b) with map-side partials. `frame_id` must be < 1000 (the key
    * encoding), which any sampled clip satisfies by orders of magnitude.
    */
  def clipPairs(
      frameHashes: DataFrame,
      maxHamming: Int = 3,
      minShared: Long = 2,
      maxBucket: Int = 1000): DataFrame =
    aHashPairs(
      frameHashes.select(
        (col("doc_id") * 1000 + col("frame_id")).as("doc_id"),
        col("hash_hi"),
        col("hash_lo")),
      maxHamming,
      maxBucket)
      .select(
        expr("doc_a div 1000").as("clip_a"),
        expr("doc_a % 1000").as("frame_a"),
        expr("doc_b div 1000").as("clip_b"),
        expr("doc_b % 1000").as("frame_b"),
        col("hamming"))
      .filter(col("clip_a") =!= col("clip_b"))
      .groupBy("clip_a", "clip_b")
      .agg(
        count(lit(1)).cast("long").as("n_frame_pairs"),
        countDistinct(col("frame_a")).cast("long").as("n_frames_a"),
        countDistinct(col("frame_b")).cast("long").as("n_frames_b"),
        min("hamming").cast("long").as("min_hamming"))
      .filter(least(col("n_frames_a"), col("n_frames_b")) >= minShared)

  /** Word n-gram Jaccard near-dup pairs via inverted index. Grams with
    * document frequency > dfCap are dropped on BOTH sides before scoring —
    * the hot-key guard that keeps the self-join skew-free at corpus scale.
    */
  def ngramJaccard(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.8,
      dfCap: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tk = TextAnalysis.tokens(col(textCol))
    val grams = docs
      .select(col(idCol).as("id"), tk.as("tks"))
      .filter(size(col("tks")) >= n)
      .select(
        col("id"),
        explode(
          array_distinct(
            transform(
              sequence(lit(0), size(col("tks")) - n),
              i => concat_ws(" ", (0 until n).map(j => element_at(col("tks"), i + j + 1)): _*))))
          .as("gram"))
    // The df cap is agg + anti-join (Skew.capHotKeys), not a window count:
    // the boilerplate gram the cap exists to drop is exactly the key a
    // window partitioning would pile onto one reducer. The gram derivation
    // (tokenize + transform + array_distinct + explode) is the expensive
    // part of this operator, so the exploded posting table is materialized
    // exactly ONCE; every later scan (the cap's hot-key agg, the per-doc
    // sizes, both self-join sides) reads the checkpoint. The capped index
    // `g` itself stays LAZY: it is a broadcast anti-join against the
    // handful of hot grams, so re-running it per consumer costs a
    // checkpoint read + a broadcast probe — cheaper than writing a second
    // near-full-size materialization of the posting table.
    val gramsM = grams.localCheckpoint()
    val g = Skew.capHotKeys(gramsM, Seq("gram"), dfCap)
    val sizes = g.groupBy("id").agg(count(lit(1)).cast("long").as("n"))
    g.as("a")
      .join(g.as("b"), col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("inter"))
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), Seq("doc_b"))
      .withColumn(
        "jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  /** Paragraph-level exact dedup across the corpus (the CCNet/C4 move:
    * repeated boilerplate paragraphs — nav bars, footers, license blurbs —
    * are removed even when the documents containing them are unique). A
    * paragraph occurrence is KEPT iff it is the globally first occurrence
    * of its normalized fingerprint (min (doc_id, pos)); later copies are
    * dups. Returns the per-doc audit face: paragraph counts and the digest
    * of the text with dup paragraphs removed.
    *
    * Scale shape: split+posexplode are narrow; the first-occurrence table
    * is ONE hash aggregation keyed by the md5 fingerprint (uniform), and
    * `min(first_key)`/`count` partial-aggregate map-side — a boilerplate
    * paragraph in a billion docs collapses to one row per map task before
    * the shuffle, which is why this is an agg+join and NOT a window over
    * the fingerprint (a window would move every copy of the hot key to one
    * reducer). The join back is also keyed by the fingerprint; the final
    * per-doc agg re-assembles kept paragraphs in position order. The
    * exploded paragraph table feeds two consumers (the agg and the join) —
    * materialized once, per the repo's recompute rule.
    */
  /** [[paragraphDedup]]'s transform face: per doc, the text with dup
    * paragraphs removed (plus the counts) — what the corpus-prep pipeline
    * substitutes for the raw text.
    */
  def paragraphDedupText(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val paras = docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        posexplode(filter(split(col(textCol), "\r?\n"), p => trim(p) =!= ""))
          .as(Seq("pos", "para")))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("pos"),
        col("para"),
        md5(regexp_replace(trim(lower(col("para"))), "\\s+", " ")).as("pfp"))
      .withColumn("okey", struct(col("doc_id"), col("pos")))
      .localCheckpoint()
    val firsts = paras
      .groupBy("pfp")
      .agg(min("okey").as("first_key"))
    paras
      .join(firsts, Seq("pfp"))
      .withColumn("is_first", col("okey") === col("first_key"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("is_first"), 0L).otherwise(1L)).cast("long").as("n_dup"),
        concat_ws(
          "\n",
          transform(
            array_sort(
              collect_list(when(col("is_first"), struct(col("pos"), col("para"))))),
            s => s.getField("para"))).as("clean_text"))
  }

  def paragraphDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    paragraphDedupText(docs, textCol, idCol)
      .select(
        col("doc_id"),
        col("n_paras"),
        col("n_dup"),
        md5(col("clean_text")).as("clean_md5"))

  /** Semantic dedup over an embedding column (SemDeDup, Abbas et al. 2023):
    * cluster the corpus coarsely, then within each cluster prune every
    * vector that has a lower-id cluster neighbor with cosine >=
    * `threshold`; the minimum id of each semantic near-dup group survives
    * as its representative. Returns one row per vector with
    * its cluster and keep decision (`kept` 1/0 — integers, hashable).
    *
    * The coarse quantizer is the deterministic flat one (seed centroids =
    * the `nCentroids` lowest-id vectors, assignment by rounded cosine, same
    * as [[Similarity.ivfFlatTopK]]) so the whole operator is
    * oracle-mirrorable; swap in [[Similarity.ivfCentroids]]' k-means
    * centroids for production quality — identical shape, rows-only check.
    *
    * Scale shape: centroids broadcast (|C| rows); assignment is a map-side
    * cross product + per-vector argmax window keyed by the vector id
    * (uniform); the pairwise prune join is confined WITHIN clusters —
    * sum(cell²) pairs, the dial being |C| (more centroids = smaller cells)
    * exactly as in the SemDeDup paper. The assigned-cells table feeds three
    * consumers (both join sides + the output), hence the materialization.
    */
  def semanticDedup(
      embs: DataFrame,
      nCentroids: Int = 16,
      threshold: Double = 0.99,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = embs
      .filter(col(idCol) < nCentroids)
      .select(col(idCol).cast("long").as("centroid_id"), col(vecCol).as("centroid"))
    val cells = embs
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("sim", round(Similarity.cosine(col("v"), col("centroid")), 6))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("id").orderBy(col("sim").desc, col("centroid_id"))))
      .filter(col("rn") === 1)
      .select(col("id"), col("v"), col("centroid_id"))
      .localCheckpoint()
    val pruned = cells
      .as("a")
      .join(
        cells.as("b"),
        col("a.centroid_id") === col("b.centroid_id") && col("a.id") < col("b.id"))
      .filter(round(Similarity.cosine(col("a.v"), col("b.v")), 4) >= threshold)
      .select(col("b.id").as("id"))
      .distinct()
    cells
      .join(pruned.withColumn("hit", lit(1)), Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("centroid_id"),
        when(col("hit").isNotNull, 0L).otherwise(1L).as("kept"))
  }

  /** EXACT set-similarity self-join via df-ordered prefix filtering
    * (AllPairs, Bayardo et al. WWW 2007; the MapReduce formulation is
    * Vernica et al. SIGMOD 2010): every pair of documents whose distinct
    * `n`-gram-shingle Jaccard is >= `thresholdMilli`/1000 — no hashing, no
    * df cap, no false negatives. The lossless complement to [[minHashLsh]]
    * (which trades recall for banding) and the exact counterpart to
    * [[ngramJaccard]] (whose df cap silently drops ubiquitous shingles
    * from the similarity itself); here the hot-key bound comes from the
    * FILTER, not from changing the answer.
    *
    * The filter: order each document's distinct shingles by ascending
    * global document frequency (ties by shingle text — any TOTAL order
    * works; df ascending puts each doc's RAREST shingles first, which is
    * what bounds the candidate join), and for a set of size s keep only
    * the first `s - ceil(t*s) + 1` as its probing prefix. Under a total
    * order, two sets with Jaccard >= t must share at least one PREFIX
    * element: with the length filter in force the overlap is
    * >= ceil(t*max(sa,sb)), and if every shared element sat in x's suffix
    * of size ceil(t*sx)-1 the overlap would be < t*sx <= that minimum —
    * contradiction. So an
    * equi-join on prefix shingles plus the length filter
    * `1000*min(na,nb) >= t_milli*max(na,nb)` loses nothing, and the exact
    * verify only pays for surviving candidates.
    *
    * All threshold arithmetic is integer-exact (`thresholdMilli` per-mille;
    * ceil via `(n*t + 999) div 1000`; the final keep test is
    * `1000*inter >= t*(na+nb-inter)` — never a rounded double), so the
    * result is engine-portable and hash-checkable; the reported `jaccard`
    * column is display-only rounding.
    *
    * Scale shape: one shuffle to count df, one to re-assemble each doc's
    * ordered shingle array (both keyed by shingle / doc id — uniform),
    * then an equi-join on prefix shingles. Prefix shingles are each doc's
    * rarest, so a shingle with document frequency d contributes at most d²
    * candidate pairs and boilerplate shingles never enter anyone's prefix
    * at realistic thresholds (they sort last). The verify stage is two
    * id-keyed joins pulling the full ordered arrays onto the
    * candidate-bounded pair table — the VernicaJoin kernel. The ordered
    * table feeds three consumers (prefix explode + both verify sides),
    * hence the one materialization. Shingles travel as FIXED 32-char md5
    * hex digests from birth (the [[graft.ops.TextAnalysis]] gram-index
    * move): the digest is computed inside the tokenizing projection, so
    * the raw n-word text never enters the df count, the ordering, the
    * prefix equi-join, or either verify array — a fixed 32 bytes per key
    * through every exchange instead of an unbounded string (~1.5-3x
    * fewer shuffle bytes at realistic shingle widths; numbers in
    * SCALE.md). Hex STRINGS, deliberately not unhex'd 16-byte binary:
    * BinaryType lacks Catalyst's "proper equals", so binary-element
    * array_distinct/array_intersect abandon the hash fast path for
    * O(n·m) byte-array scans — measured 3.8x slower end-to-end.
    * Correctness is digest-agnostic: the prefix proof needs only a TOTAL
    * order (df asc, ties by digest — as arbitrary as ties by text), and
    * |intersection| over digests equals |intersection| over shingles up
    * to md5 collisions (~(distinct shingles)^2 / 2^129 — the
    * [[graft.ops.TextAnalysis.dupSpans]] odds, and the failure mode is
    * one spurious pair, never a miss).
    */
  def setSimilarityJoin(
      docs: DataFrame,
      thresholdMilli: Int = 800,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    requireSetJoinArgs(thresholdMilli, n)
    val tm = lit(thresholdMilli.toLong)
    val tok = setJoinShingles(docs, n, textCol, idCol)
    val dfs = tok.groupBy("tok").agg(count(lit(1)).cast("long").as("df"))
    val ordered = setJoinOrdered(tok, dfs, thresholdMilli).localCheckpoint()
    val pref = setJoinPrefix(ordered)
    val cand = pref
      .as("a")
      .join(
        pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          lit(1000L) * least(col("a.n"), col("b.n")) >= tm * greatest(col("a.n"), col("b.n")))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    setJoinVerify(cand, ordered, tm)
  }

  private def requireSetJoinArgs(thresholdMilli: Int, n: Int): Unit = {
    require(
      thresholdMilli > 0 && thresholdMilli <= 1000,
      s"thresholdMilli must be in (0, 1000], got $thresholdMilli")
    require(n >= 1, s"shingle width must be >= 1, got $n")
  }

  /** (id, tok): each doc's DISTINCT word-`n`-gram shingles as fixed
    * 32-char md5 hex digests (strings, not binary — see
    * [[setSimilarityJoin]]'s doc), computed where the shingle is born so
    * the raw text never enters a shuffle.
    */
  private def setJoinShingles(docs: DataFrame, n: Int, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("id"), TextAnalysis.tokens(col(textCol)).as("tks"))
      .filter(size(col("tks")) >= n)
      .select(
        col("id"),
        // _outer + a generated-attribute filter: a plain explode lets
        // InferFiltersFromGenerate re-evaluate the whole md5 chain per row
        // in a non-codegen Filter (the SCALE.md trap); the array is
        // non-empty by construction. Digests stay HEX STRINGS, not
        // unhex'd binary: BinaryType has no "proper equals" in Catalyst,
        // so array_distinct here and array_intersect in the verify would
        // silently fall off the hash fast path onto O(n·m) byte-array
        // scans — measured 3.8x on this operator before the revert
        explode_outer(
          array_distinct(
            transform(
              sequence(lit(0), size(col("tks")) - n),
              i =>
                md5(
                  concat_ws(" ", (0 until n).map(j => element_at(col("tks"), i + j + 1)): _*)))))
          .as("tok"))
      .filter(col("tok").isNotNull)

  /** (id, otks, n, plen): per-doc shingles sorted by the (df asc, digest)
    * total order — missing df (a shingle the `dfs` table never saw) reads
    * as 0, i.e. rarest-first, which is exactly right for genuinely new
    * content probing a frozen index. `plen` = n − ceil(t·n) + 1 via
    * integral `div` (a double `/` + cast loses exactness past 2^53).
    */
  private def setJoinOrdered(tok: DataFrame, dfs: DataFrame, thresholdMilli: Int): DataFrame =
    tok
      .join(dfs, Seq("tok"), "left")
      .select(col("id"), col("tok"), coalesce(col("df"), lit(0L)).as("df"))
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id"), transform(col("ord"), s => s.getField("tok")).as("otks"))
      .withColumn("n", size(col("otks")).cast("long"))
      .withColumn(
        "plen",
        expr(s"CAST(n - (n * $thresholdMilli + 999) div 1000 + 1 AS INT)"))

  private def setJoinPrefix(ordered: DataFrame): DataFrame =
    ordered.select(col("id"), col("n"), explode(slice(col("otks"), lit(1), col("plen"))).as("tok"))

  /** Exact verify over candidate pairs: pull both ordered arrays, count
    * the intersection, keep `1000·inter >= t·(na+nb−inter)` — never a
    * rounded double; the reported `jaccard` is display-only rounding.
    */
  private def setJoinVerify(cand: DataFrame, docs: DataFrame, tm: Column): DataFrame =
    cand
      .join(docs.select(col("id").as("doc_a"), col("otks").as("ta"), col("n").as("na")), Seq("doc_a"))
      .join(docs.select(col("id").as("doc_b"), col("otks").as("tb"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(lit(1000L) * col("inter") >= tm * (col("na") + col("nb") - col("inter")))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("inter"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4)
          .as("jaccard"))

  /** Persist the set-similarity PREFIX INDEX — the ingest lifecycle every
    * other dedup family already has ([[writeLshIndex]]-style), applied to
    * the EXACT join: a daily pipeline probes each re-crawl batch against
    * the stored prefixes instead of re-paying the full corpus self-join.
    *
    * Store: `params` (threshold, n — probes under different geometry
    * refuse), `df` (the build corpus's per-shingle document frequency,
    * FROZEN), `docs` (per-doc ordered digest arrays), `prefix` (exploded
    * prefix postings). The frozen df is the correctness keystone: the
    * prefix-filter theorem needs ONE total order shared by every indexed
    * and probing doc, so all generations order by (build-time df asc,
    * digest) — an unseen shingle reads df 0 (rarest-first, right for new
    * content), appends never re-derive the order, and losslessness holds
    * across arbitrary batch boundaries. The heuristic QUALITY of the
    * order (rare shingles probing first) decays as the corpus drifts from
    * the build snapshot — that degrades candidate counts, never results;
    * rebuild to re-freshen, exactly like IVF retrain acting on drift.
    *
    * Scale: the store is digest-fixed-width (32 hex chars/key); a probe
    * shuffles |batch prefixes| + the matching store postings, never
    * history text.
    */
  def writeSetJoinIndex(
      corpus: DataFrame,
      path: String,
      thresholdMilli: Int = 800,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    requireSetJoinArgs(thresholdMilli, n)
    val spark = corpus.sparkSession
    import spark.implicits._
    // the full build rewrites df ↔ docs ↔ prefix ↔ params: marker up
    // before the first overwrite, cleared after the last — a crash
    // mid-way (new df under old postings) is REFUSED by probes instead
    // of silently scoring against mixed directories; completing the
    // build (re-run) resolves a stale marker either way
    Similarity.markInflight(spark, path, "writeSetJoinIndex")
    Similarity.clearTombstones(spark, path) // full rebuild: stale deletes die
    val tok = setJoinShingles(corpus, n, textCol, idCol)
    val dfs = tok.groupBy("tok").agg(count(lit(1)).cast("long").as("df"))
    dfs.write.mode("overwrite").parquet(s"$path/df")
    val ordered = setJoinOrdered(tok, spark.read.parquet(s"$path/df"), thresholdMilli)
      .localCheckpoint() // two writes below
    ordered.select("id", "otks", "n").write.mode("overwrite").parquet(s"$path/docs")
    setJoinPrefix(ordered).write.mode("overwrite").parquet(s"$path/prefix")
    Seq((thresholdMilli, n))
      .toDF("threshold_milli", "n")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
    Similarity.clearInflight(spark, path)
  }

  private def requireSetJoinParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      thresholdMilli: Int,
      n: Int): Unit = {
    val p = spark.read.parquet(s"$path/params").select("threshold_milli", "n").head()
    require(
      p.getInt(0) == thresholdMilli && p.getInt(1) == n,
      s"set-join index at $path was built with threshold=${p.getInt(0)}, n=${p.getInt(1)}; " +
        s"caller passed threshold=$thresholdMilli, n=$n")
  }

  /** Grow the prefix index with a new batch under the FROZEN build-time
    * df order (append-only; the batch becomes history for later probes).
    */
  def appendSetJoinIndex(
      batch: DataFrame,
      path: String,
      thresholdMilli: Int = 800,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    Similarity.requireNotInflight(spark, path) // crashed rebuild: refuse, never land
    requireSetJoinParams(spark, path, thresholdMilli, n)
    val ordered = setJoinOrdered(
      setJoinShingles(batch, n, textCol, idCol),
      spark.read.parquet(s"$path/df"),
      thresholdMilli)
      .localCheckpoint() // two writes below
    ordered.select("id", "otks", "n").write.mode("append").parquet(s"$path/docs")
    setJoinPrefix(ordered).write.mode("append").parquet(s"$path/prefix")
  }

  /** Incremental [[setSimilarityJoin]]: every qualifying pair involving at
    * least one batch doc — EXACTLY `setSimilarityJoin(history ∪ batch)`
    * restricted to such pairs (the oracle re-proves it brute-force) —
    * without re-joining history against itself. Candidates come from the
    * batch's prefixes against (stored ∪ batch) prefixes under the frozen
    * total order (see [[writeSetJoinIndex]]: one shared order makes the
    * prefix filter lossless across batch boundaries); verify pulls the
    * ordered arrays, whose intersection count is order-agnostic anyway.
    * A re-inserted doc_id retires its stale store rows first (anti-join
    * on the batch's ids, the [[graft.ops.TextAnalysis.probeDupSpans]]
    * rule); tombstoned docs stop matching immediately.
    */
  def probeSetJoinIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      thresholdMilli: Int = 800,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    Similarity.requireNotInflight(spark, path)
    requireSetJoinParams(spark, path, thresholdMilli, n)
    val bord = setJoinOrdered(
      setJoinShingles(batch, n, textCol, idCol),
      spark.read.parquet(s"$path/df"),
      thresholdMilli)
      .localCheckpoint() // three consumers: prefixes + both verify sides
    setJoinProbeCore(
      spark,
      path,
      bord,
      batch.select(col(idCol).cast("long").as("id")).distinct(),
      spark.read.parquet(s"$path/docs"),
      spark.read.parquet(s"$path/prefix"),
      thresholdMilli)
  }

  /** The probe kernel shared by [[probeSetJoinIndex]] (full store) and
    * [[ingestSetJoinBatch]] (strictly-earlier generations): batch
    * prefixes probe (history ∪ batch) prefixes — every emitted pair has a
    * batch doc on the left, so history never self-joins; least/greatest
    * re-orients cross pairs, distinct collapses batch-batch pairs found
    * from both ends; tombstoned and re-inserted ids retire first.
    */
  private def setJoinProbeCore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      bord: DataFrame,
      batchIds: DataFrame,
      docsRaw: DataFrame,
      prefRaw: DataFrame,
      thresholdMilli: Int): DataFrame = {
    val tm = lit(thresholdMilli.toLong)
    val histDocs = Similarity
      .minusTombstones(spark, path, docsRaw.select("id", "otks", "n"), "id")
      .join(batchIds, Seq("id"), "left_anti")
    val histPref = Similarity
      .minusTombstones(spark, path, prefRaw.select("id", "n", "tok"), "id")
      .join(batchIds, Seq("id"), "left_anti")
    val bpref = setJoinPrefix(bord)
    val cand = bpref
      .as("a")
      .join(
        bpref.unionByName(histPref).as("b"),
        col("a.tok") === col("b.tok") && col("a.id") =!= col("b.id") &&
          lit(1000L) * least(col("a.n"), col("b.n")) >= tm * greatest(col("a.n"), col("b.n")))
      .select(
        least(col("a.id"), col("b.id")).as("doc_a"),
        greatest(col("a.id"), col("b.id")).as("doc_b"))
      .distinct()
    setJoinVerify(cand, bord.select("id", "otks", "n").unionByName(histDocs), tm)
  }

  /** Streaming maintenance round for the set-join prefix index — the
    * exact-join analog of [[ingestLshBatch]], called per micro-batch by
    * [[graft.streaming.CorpusIngest.setJoinDedupIngest]]. Batch 0 (or a
    * missing store) WIPES any previous run's state — the StoreLifecycle
    * claim-before-empty-check rule — and the FIRST non-empty batch then
    * freezes the df order from its own content (the best snapshot
    * available at stream start; rebuild to re-freshen, as
    * [[writeSetJoinIndex]] documents). Each
    * round probes against strictly-earlier generations only (partition
    * pruning on `batch_id` — a retried batch never reads its own
    * half-written rows back), lands the batch's qualifying pairs under
    * `pairs/batch_id=N`, and grows `docs`/`prefix` batch-keyed — all
    * three writes overwrite their own directory, so retries are
    * exactly-once.
    */
  def ingestSetJoinBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      thresholdMilli: Int = 800,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    requireSetJoinArgs(thresholdMilli, n)
    val spark = batch.sparkSession
    import spark.implicits._
    if (batchId == 0L || !Similarity.storeExists(spark, s"$path/params")) {
      // The WIPE runs before the empty check (the StoreLifecycle rule): an
      // empty batch 0 must still retire a previous run's store, or batch 1
      // would validate against stale params and silently merge two streams'
      // corpora. Only the df FREEZE — which needs content — defers to the
      // first non-empty batch: params come down too, so that batch re-enters
      // this branch and claims then.
      Similarity.deleteDir(spark, s"$path/docs")
      Similarity.deleteDir(spark, s"$path/prefix")
      Similarity.deleteDir(spark, s"$path/pairs")
      Similarity.deleteDir(spark, s"$path/df")
      Similarity.deleteDir(spark, s"$path/params")
      Similarity.clearTombstones(spark, path)
      Similarity.clearInflight(spark, path) // fresh stream resolves a crashed rebuild
      if (batch.isEmpty) return
      setJoinShingles(batch, n, textCol, idCol)
        .groupBy("tok")
        .agg(count(lit(1)).cast("long").as("df"))
        .write.mode("overwrite").parquet(s"$path/df")
      Seq((thresholdMilli, n))
        .toDF("threshold_milli", "n")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/params")
    } else {
      // a crashed rebuild's mixed docs/prefix/df must not be probed
      // against and LANDED (pairs written here are permanent) — the same
      // refusal probeSetJoinIndex applies
      Similarity.requireNotInflight(spark, path)
      requireSetJoinParams(spark, path, thresholdMilli, n)
      if (batch.isEmpty) return // nothing to probe or land
    }
    val bord = setJoinOrdered(
      setJoinShingles(batch, n, textCol, idCol),
      spark.read.parquet(s"$path/df"),
      thresholdMilli)
      .localCheckpoint() // probe consumers + two index writes
    def earlier(sub: String, cols: Seq[String], empty: => DataFrame): DataFrame =
      if (Similarity.storeExists(spark, s"$path/$sub")) {
        val raw = spark.read.parquet(s"$path/$sub")
        val e = if (raw.columns.contains("batch_id")) raw.filter(col("batch_id") < batchId) else raw
        e.select(cols.map(col): _*)
      } else empty.limit(0)
    val pairs = setJoinProbeCore(
      spark,
      path,
      bord,
      batch.select(col(idCol).cast("long").as("id")).distinct(),
      earlier("docs", Seq("id", "otks", "n"), bord.select("id", "otks", "n")),
      earlier("prefix", Seq("id", "n", "tok"), setJoinPrefix(bord)),
      thresholdMilli)
    pairs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/pairs/batch_id=$batchId")
    bord.select("id", "otks", "n")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/docs/batch_id=$batchId")
    setJoinPrefix(bord)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/prefix/batch_id=$batchId")
  }

  /** Staleness audit for the set-join index's FROZEN df order — the
    * exact-join analog of [[graft.ops.Similarity.indexDriftReport]]: the
    * frozen order is lossless forever (the prefix theorem only needs ONE
    * total order), but its heuristic QUALITY — rare shingles probing
    * first — decays as the corpus drifts from the build snapshot, and
    * until this audit nothing MEASURED the decay. The measurement: run
    * the batch's self-join candidate generation twice, once under the
    * store's frozen df order and once under a fresh df computed on the
    * batch itself, and report the CANDIDATE-COUNT INFLATION the stale
    * order causes. `inflation_ppm = 10⁶·cand_frozen div max(cand_fresh,
    * 1)` — ~10⁶ means the frozen order is still near-optimal for this
    * traffic; sustained large values mean probes are paying for
    * verify-stage work a rebuild would eliminate (cost, never
    * correctness — the rebuild trigger, exactly like IVF retrain acting
    * on [[graft.ops.Similarity.indexDriftReport]]). The canonical decay
    * mode is planted in the registry query: a phrase every batch doc
    * shares but the build corpus never saw reads df 0 (rarest-first)
    * under the frozen order, lands in EVERY batch doc's prefix, and
    * quadratically inflates candidates; the fresh order files it last.
    *
    * Everything reported is an integer count over deterministic digests,
    * so the audit is oracle-hashable end-to-end.
    *
    * Scale shape: two batch-sized orderings (each one df join + one
    * per-doc sort) and two prefix self-joins bounded by the batch — the
    * indexed corpus never moves; run it on a sampled batch slice the way
    * [[graft.ops.Similarity.ivfRecallAudit]] samples queries.
    */
  def setJoinDriftAudit(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      thresholdMilli: Int = 800,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    Similarity.requireNotInflight(spark, path)
    requireSetJoinParams(spark, path, thresholdMilli, n)
    val tm = lit(thresholdMilli.toLong)
    // shingled once; consumed by the fresh df count and both orderings
    val tok = setJoinShingles(batch, n, textCol, idCol).localCheckpoint()
    def stats(dfs: DataFrame, tag: String): DataFrame = {
      val ordered = setJoinOrdered(tok, dfs, thresholdMilli).localCheckpoint()
      val pref = setJoinPrefix(ordered).localCheckpoint() // count + both join sides
      val cand = pref
        .as("a")
        .join(
          pref.as("b"),
          col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
            lit(1000L) * least(col("a.n"), col("b.n")) >= tm * greatest(col("a.n"), col("b.n")))
        .select(col("a.id").as("da"), col("b.id").as("db"))
        .distinct()
        .agg(count(lit(1)).cast("long").as(s"cand_$tag"))
      pref
        .agg(count(lit(1)).cast("long").as(s"prefix_$tag"))
        .crossJoin(broadcast(cand)) // 1-row × 1-row
    }
    val nDocs = tok.select("id").distinct().agg(count(lit(1)).cast("long").as("n_docs"))
    nDocs
      .crossJoin(broadcast(stats(spark.read.parquet(s"$path/df"), "frozen")))
      .crossJoin(broadcast(stats(
        tok.groupBy("tok").agg(count(lit(1)).cast("long").as("df")), "fresh")))
      .withColumn(
        "inflation_ppm",
        expr("(CAST(1000000 AS BIGINT) * cand_frozen) div greatest(cand_fresh, 1)").cast("long"))
  }

  /** CLOSE the staleness→rebuild loop: measure [[setJoinDriftAudit]],
    * rebuild the frozen order only when the measured candidate inflation
    * crosses the caller's threshold, and return the decision as a 1-row
    * report — the conditional face an unattended ingest loop calls after
    * every batch, the exact-join twin of
    * [[graft.ops.Similarity.retrainIvfIfDrifted]]. The rebuild re-derives
    * the df order from the index's own LIVE stored content (tombstones
    * subtracted): `otks` is each doc's distinct shingle-digest set, so
    * exploding it reproduces exactly the df a clean [[writeSetJoinIndex]]
    * over the live corpus would compute by re-shingling — the store
    * afterwards is content-equal to that clean build (docs re-ordered
    * under the fresh df, prefixes re-cut, df replaced, tombstones
    * cleared; the spec pins the equivalence), and the original text is
    * never needed, which at 100 TB it may no longer be. Returns
    * `(n_docs, cand_frozen, cand_fresh, inflation_ppm, threshold_ppm,
    * rebuilt)`. Retry contract: below-threshold calls are pure reads;
    * the rebuild materializes its live snapshot up front and
    * tmp-and-swaps docs → prefix → df, so every directory stays READABLE
    * at every instant, and a crash anywhere before the df swap leaves
    * the OLD df in place — a re-run re-measures the same inflation and
    * redoes the whole rebuild, converging. The one degraded window is
    * between the prefix and df swaps (new postings under the old batch
    * order — possible false negatives); the inflight marker written by
    * [[rebuildSetJoinIndex]] makes probes and audits refuse a store
    * crashed in that window — re-run [[rebuildSetJoinIndex]] directly
    * to completion, which clears it.
    *
    * Scale shape: the decision costs one [[setJoinDriftAudit]] (two
    * batch-bounded orderings; run it on a sampled slice) plus a 1-row
    * collect; the rebuild streams the stored digest arrays through one
    * df aggregation and one per-doc re-sort — corpus text never moves.
    */
  def rebuildSetJoinIfDrifted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      thresholdPpm: Long = 2000000L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(
      thresholdPpm >= 1000000L,
      s"rebuildSetJoinIfDrifted: inflation parity is 10^6 ppm; a threshold below it " +
        s"($thresholdPpm) would rebuild on noise")
    import spark.implicits._
    val p0 = spark.read.parquet(s"$path/params").select("threshold_milli", "n").head()
    val (tMilli, nGram) = (p0.getInt(0), p0.getInt(1))
    // 1-row bounded collect (the decision itself), never data-volume
    val a = setJoinDriftAudit(spark, path, batch, tMilli, nGram, textCol, idCol).head()
    val inflation = a.getAs[Long]("inflation_ppm")
    val rebuilt = inflation > thresholdPpm
    if (rebuilt) rebuildSetJoinIndex(spark, path)
    Seq((
      a.getAs[Long]("n_docs"),
      a.getAs[Long]("cand_frozen"),
      a.getAs[Long]("cand_fresh"),
      inflation,
      thresholdPpm,
      rebuilt))
      .toDF("n_docs", "cand_frozen", "cand_fresh", "inflation_ppm", "threshold_ppm", "rebuilt")
  }

  /** UNCONDITIONAL rebuild of a set-join index's frozen global order from
    * its own LIVE stored content (tombstones subtracted) — the action arm
    * of [[rebuildSetJoinIfDrifted]], public so an interrupted rebuild can
    * be re-run directly: `otks` is each doc's distinct shingle-digest
    * set, so exploding it reproduces exactly the df a clean
    * [[writeSetJoinIndex]] over the live corpus would compute by
    * re-shingling — the store afterwards is content-equal to that clean
    * build (docs re-ordered under the fresh df, prefixes re-cut, df
    * replaced, tombstones cleared), and the original text is never
    * needed, which at 100 TB it may no longer be. Crash contract: the
    * inflight marker ([[graft.ops.Similarity.markInflight]]) is written
    * before the first swap and cleared after the last, so probes and
    * audits REFUSE a store crashed mid-swap (new postings under the old
    * batch order — false negatives otherwise silent) instead of
    * mis-scoring; every directory stays READABLE at every instant, and
    * re-running this face to completion converges and clears the marker.
    */
  def rebuildSetJoinIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val tMilli = spark.read.parquet(s"$path/params").select("threshold_milli").head().getInt(0)
    val docsRaw = spark.read.parquet(s"$path/docs")
    val hasBatchDirs = docsRaw.columns.contains("batch_id")
    // live snapshot materialized up front: the swaps below must not
    // pull the rug from under their own input (retrainIvfIndex's move)
    val live = Similarity.minusTombstones(spark, path, docsRaw, "id")
      .select("id", "otks")
      .localCheckpoint()
    val dfs = live
      .select(explode(col("otks")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).cast("long").as("df"))
      .localCheckpoint() // consumed by the re-order and its own swap
    // the ONE ordering kernel: re-ordering stored digests goes through
    // setJoinOrdered exactly like a clean build, so the plen formula
    // and (df, digest) tie-break can never diverge between the two
    val ordered = setJoinOrdered(
      live.select(col("id"), explode(col("otks")).as("tok")),
      dfs,
      tMilli)
      .localCheckpoint() // two subtree writes below
    def swap(df: DataFrame, sub: String): Unit =
      if (hasBatchDirs)
        Similarity.rewriteDir(
          spark, df.withColumn("batch_id", lit(-1L)), s"$path/$sub", Seq("batch_id"))
      else Similarity.rewriteDir(spark, df, s"$path/$sub", Nil)
    Similarity.markInflight(spark, path, "rebuildSetJoinIndex") // docs ↔ prefix ↔ df window
    swap(ordered.select("id", "otks", "n"), "docs")
    swap(setJoinPrefix(ordered), "prefix")
    Similarity.rewriteDir(spark, dfs, s"$path/df", Nil)
    // the rebuild physically dropped the tombstoned docs: spent
    // tombstones must die, or they would suppress a future re-insert
    Similarity.clearTombstones(spark, path)
    Similarity.clearInflight(spark, path)
  }

  /** Physically drop tombstoned docs from both subtrees and clear the
    * tombstones — probe results unchanged by contract.
    */
  def compactSetJoinIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    Similarity.compactIndexDir(spark, path, "docs", "id")
    Similarity.compactIndexDir(spark, path, "prefix", "id")
    Similarity.clearTombstones(spark, path)
  }

  /** EXACT single-token-edit join via the deletion neighborhood (the
    * FastSS / SymSpell signature scheme, Boitsov 2004-lineage, here on
    * TOKEN sequences): every pair of documents whose token sequences are
    * within edit distance 1 (one substitution, insertion, or deletion of a
    * whole token — the shape of a re-crawled page with one word changed).
    * Pigeonhole: if ed(a,b) <= 1 the two sequences share a member of their
    * deletion neighborhoods {full} ∪ {drop token i}, so an equi-join on
    * neighborhood digests finds every qualifying pair. The join is
    * complete but NOT sound on its own — `a\i = b\j` with i ≠ j admits
    * true-distance-2 pairs — so candidates are verified with the exact
    * prefix+suffix edit check (common prefix p, common suffix s; ed <= 1
    * iff p+s covers all but at most one aligned position). Both stages are
    * integer/boolean-exact, so the oracle can be independent brute force.
    *
    * Scale shape: signatures cost (n_tokens + 1) digests per doc — the
    * SymSpell trade: index size buys an equi-join instead of any all-pairs
    * scan. Candidates are output-bound (a signature shared by k docs means
    * k near-identical docs); the verify stage is two id-keyed joins
    * pulling token arrays onto the candidate-bounded pair table, and the
    * prefix/suffix check is a per-row array expression, no shuffle. d = 1
    * only, deliberately: the deletion neighborhood for d edits is
    * C(n, d)-sized — for deeper edits use [[minHashLsh]] +
    * [[verifyEditDistance]] (probabilistic recall) instead.
    */
  def tokenEditJoin(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = editTokens(docs, textCol, idCol).localCheckpoint()
    // both self-join sides consume the signature table: materialize the
    // (token-count-sized) digests once instead of hashing the corpus twice
    val sigs = editSignatures(toks).localCheckpoint()
    val cand = sigs
      .as("a")
      .join(
        sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id") &&
          abs(col("a.n") - col("b.n")) <= 1)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    editVerify(cand, toks)
  }

  /** (id, tks, n): non-empty token arrays, the verify-side state. */
  private def editTokens(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("id"),
        TextAnalysis.tokens(col(textCol)).as("tks"))
      .filter(size(col("tks")) > 0)
      .withColumn("n", size(col("tks")).cast("long"))

  /** (id, n, sig): the deletion-neighborhood digests {full} ∪ {drop i}.
    * `_outer` + a generated-attribute filter: the plain explode lets
    * InferFiltersFromGenerate re-evaluate the whole signature chain per
    * row in a non-codegen Filter (see SCALE.md); the array is non-empty
    * by construction, so the variants differ only in the suppressed rule.
    *
    * The digest is `xxhash64` STRAIGHT OVER THE TOKEN ARRAY (8-byte long
    * keys), not the set-join family's md5-of-concat hex strings: here the
    * hash function is entirely fungible — equal sequences always collide
    * (completeness needs nothing more), and unequal-sequence collisions
    * only add candidates the EXACT [[editVerify]] rejects — so results
    * are byte-identical under any digest while the deletion neighborhood
    * is the write kernel's dominant cost ((n_tokens+1) signatures/doc,
    * O(T²) hashed bytes). xxhash64 hashes the array elements in one
    * codegen pass with no concat-string or hex allocation, and the long
    * keys shuffle/compare ~5x narrower than 32-char hex through the
    * candidate self-join. (Unlike [[setJoinShingles]], whose md5 the
    * drift audit's oracle mirrors digit-for-digit — that order is pinned.)
    */
  private def editSignatures(toks: DataFrame): DataFrame =
    toks
      .select(
        col("id"),
        col("n"),
        explode_outer(
          array_distinct(
            transform(
              sequence(lit(0), size(col("tks"))),
              i =>
                xxhash64(
                  when(i === 0, col("tks"))
                    .otherwise(filter(col("tks"), (_, j) => j =!= i - 1))))))
          .as("sig"))
      .filter(col("sig").isNotNull)

  /** Exact ed≤1 verify over candidate pairs: common prefix p + common
    * suffix s must cover all but at most one aligned position.
    */
  private def editVerify(cand: DataFrame, toks: DataFrame): DataFrame = {
    val verified = cand
      .join(toks.select(col("id").as("doc_a"), col("tks").as("ta"), col("n").as("na")), Seq("doc_a"))
      .join(toks.select(col("id").as("doc_b"), col("tks").as("tb"), col("n").as("nb")), Seq("doc_b"))
    val eqZip = (x: Column, y: Column) => zip_with(x, y, (u, v) => coalesce(u === v, lit(false)))
    def firstMismatch(z: Column, na: Column, nb: Column): Column = {
      val pos = array_position(z, false)
      // pos = 0 means no mismatch across max(na,nb) positions, which
      // forces na = nb (padding mismatches otherwise): fully equal
      when(pos === 0, least(na, nb)).otherwise(pos - 1)
    }
    verified
      .withColumn("p", firstMismatch(eqZip(col("ta"), col("tb")), col("na"), col("nb")))
      .withColumn("s", firstMismatch(eqZip(reverse(col("ta")), reverse(col("tb"))), col("na"), col("nb")))
      .filter(
        (col("na") === col("nb") && (col("p") >= col("na") || col("p") + col("s") >= col("na") - 1)) ||
          (col("na") =!= col("nb") && col("p") + col("s") >= least(col("na"), col("nb"))))
      .select(
        col("doc_a"),
        col("doc_b"),
        when(col("na") === col("nb") && col("p") >= col("na"), 0L).otherwise(1L).as("ed"),
        col("na"),
        col("nb"))
  }

  /** Persist the token-edit SIGNATURE INDEX — the SymSpell trade made
    * durable: (n_tokens+1) deletion-neighborhood digests per doc are paid
    * ONCE at index time, and every re-crawl batch thereafter probes with
    * an equi-join instead of re-signing the corpus. Unlike the set-join
    * index there is no corpus-dependent ordering to freeze — signatures
    * are a pure per-doc function — so appends and probes compose with no
    * drift caveat at all. Store: `docs` (id, token arrays — the verify
    * side), `sigs` (id, n, digest), `params` (the d=1 bound and the digest scheme).
    */
  def writeTokenEditIndex(
      corpus: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = corpus.sparkSession
    Similarity.clearTombstones(spark, path)
    val toks = editTokens(corpus, textCol, idCol).localCheckpoint() // two writes
    toks.select("id", "tks", "n").write.mode("overwrite").parquet(s"$path/docs")
    editSignatures(toks).write.mode("overwrite").parquet(s"$path/sigs")
    writeTokenEditParams(spark, path)
  }

  /** Digest scheme of [[editSignatures]]. Signatures of another scheme
    * (earlier engines stored md5 hex strings) never equi-join this one's,
    * so a probe over such a store would silently find no history pairs.
    */
  private val TokenEditSigScheme = "xxhash64"

  /** The token-edit params pin: the edit bound (d=1) and the signature
    * digest scheme, both checked by [[requireTokenEditParams]].
    */
  private def writeTokenEditParams(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    Seq((1, TokenEditSigScheme)).toDF("max_edit", "sig_scheme")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  private def requireTokenEditParams(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = spark.read.parquet(s"$path/params").head()
    val d = p.getAs[Int]("max_edit")
    require(d == 1, s"token-edit index at $path was built for d=$d, this engine probes d=1")
    val scheme =
      if (p.schema.fieldNames.contains("sig_scheme")) p.getAs[String]("sig_scheme")
      else "unrecorded (md5 era)"
    require(
      scheme == TokenEditSigScheme,
      s"token-edit index at $path has $scheme signatures, this engine probes " +
        s"$TokenEditSigScheme; rebuild it with writeTokenEditIndex")
  }

  /** Grow the signature index with a new batch (append-only). */
  def appendTokenEditIndex(
      batch: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    requireTokenEditParams(spark, path)
    val toks = editTokens(batch, textCol, idCol).localCheckpoint() // two writes
    toks.select("id", "tks", "n").write.mode("append").parquet(s"$path/docs")
    editSignatures(toks).write.mode("append").parquet(s"$path/sigs")
  }

  /** Incremental [[tokenEditJoin]]: every ed≤1 pair involving at least
    * one batch doc — exactly `tokenEditJoin(history ∪ batch)` restricted
    * to such pairs (brute-force oracle) — without history re-signing or
    * self-joining. Re-inserted ids retire their stale rows; tombstones
    * subtract immediately.
    */
  def probeTokenEditIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    Similarity.requireNotInflight(spark, path)
    requireTokenEditParams(spark, path)
    val btoks = editTokens(batch, textCol, idCol).localCheckpoint() // sig + verify consumers
    tokenEditProbeCore(
      spark,
      path,
      btoks,
      editSignatures(btoks).localCheckpoint(), // probes both join sides
      batch.select(col(idCol).cast("long").as("id")).distinct(),
      spark.read.parquet(s"$path/docs"),
      spark.read.parquet(s"$path/sigs"))
  }

  /** Probe kernel shared by [[probeTokenEditIndex]] (full store) and
    * [[ingestTokenEditBatch]] (strictly-earlier generations); `bsigs`
    * (the batch's materialized signatures) is caller-supplied so the
    * ingest round can land the SAME table it probed with instead of
    * re-hashing the deletion neighborhood.
    */
  private def tokenEditProbeCore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      btoks: DataFrame,
      bsigs: DataFrame,
      batchIds: DataFrame,
      docsRaw: DataFrame,
      sigsRaw: DataFrame): DataFrame = {
    val histDocs = Similarity
      .minusTombstones(spark, path, docsRaw.select("id", "tks", "n"), "id")
      .join(batchIds, Seq("id"), "left_anti")
    val histSigs = Similarity
      .minusTombstones(spark, path, sigsRaw.select("id", "n", "sig"), "id")
      .join(batchIds, Seq("id"), "left_anti")
    val cand = bsigs
      .as("a")
      .join(
        bsigs.unionByName(histSigs).as("b"),
        col("a.sig") === col("b.sig") && col("a.id") =!= col("b.id") &&
          abs(col("a.n") - col("b.n")) <= 1)
      .select(
        least(col("a.id"), col("b.id")).as("doc_a"),
        greatest(col("a.id"), col("b.id")).as("doc_b"))
      .distinct()
    editVerify(cand, btoks.select("id", "tks", "n").unionByName(histDocs))
  }

  /** Streaming maintenance round for the token-edit signature index —
    * [[ingestSetJoinBatch]]'s sibling, with no order to freeze (the
    * signature scheme is a pure per-doc function): claim/replace on the
    * first non-empty batch, probe against strictly-earlier generations,
    * land `pairs/batch_id=N`, grow `docs`/`sigs` batch-keyed,
    * batch-id-keyed overwrites for exactly-once.
    */
  def ingestTokenEditBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    // Claim BEFORE the empty check (StoreLifecycle's rule — the params pin
    // (max_edit=1, sig_scheme) is content-independent, so even an empty batch 0 wipes
    // a previous run's store; otherwise batch 1 would validate against
    // stale params and silently merge two streams' corpora).
    StoreLifecycle.claim(
      spark,
      path,
      Seq("docs", "sigs", "pairs", "tombstones"),
      batchId,
      () => writeTokenEditParams(spark, path),
      () => requireTokenEditParams(spark, path))
    if (batch.isEmpty) return // nothing to probe or land
    val btoks = editTokens(batch, textCol, idCol).localCheckpoint()
    // hashed ONCE: the probe's join sides and the sigs write all read
    // this materialization — the deletion neighborhood is the dominant
    // per-batch cost and must not run twice
    val bsigs = editSignatures(btoks).localCheckpoint()
    def earlier(sub: String, cols: Seq[String], empty: => DataFrame): DataFrame =
      if (Similarity.storeExists(spark, s"$path/$sub")) {
        val raw = spark.read.parquet(s"$path/$sub")
        val e = if (raw.columns.contains("batch_id")) raw.filter(col("batch_id") < batchId) else raw
        e.select(cols.map(col): _*)
      } else empty.limit(0)
    val pairs = tokenEditProbeCore(
      spark,
      path,
      btoks,
      bsigs,
      batch.select(col(idCol).cast("long").as("id")).distinct(),
      earlier("docs", Seq("id", "tks", "n"), btoks.select("id", "tks", "n")),
      earlier("sigs", Seq("id", "n", "sig"), bsigs))
    pairs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/pairs/batch_id=$batchId")
    btoks.select("id", "tks", "n")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/docs/batch_id=$batchId")
    bsigs
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/sigs/batch_id=$batchId")
  }

  /** Physically drop tombstoned docs from both subtrees and clear the
    * tombstones — probe results unchanged by contract.
    */
  def compactTokenEditIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    Similarity.compactIndexDir(spark, path, "docs", "id")
    Similarity.compactIndexDir(spark, path, "sigs", "id")
    Similarity.clearTombstones(spark, path)
  }

  /** Multi-key blocking for ENTITY RESOLUTION — the classic record-linkage
    * candidate generator: records pair iff they share ANY of the blocking
    * keys (union of per-blocker self-joins), so overlapping keys — e.g.
    * two value grids offset by half a cell, the canopy trick — guarantee
    * that a small perturbation crossing one grid's boundary is still
    * caught by the other. This generates CANDIDATES only; the caller
    * verifies pairs with its own field-similarity predicate and feeds
    * survivors to [[clusterPairs]] for transitive entity ids — the same
    * candidates → verify → CC shape as every dedup family here.
    *
    * Scale shape: per blocker, records collapse to (id, key), hot blocks
    * above `maxBlock` are EXCLUDED up front (a block everyone shares
    * carries no linkage signal and costs |block|² — the
    * [[minHashLsh]]/[[graft.ops.Graph.commonNeighborRecs]] cap logic),
    * and the self-join is an equi-join on the key: Σ per-block n² ≤
    * maxBlock·|records| pairs per blocker. Null keys never block.
    */
  def blockingPairs(
      records: DataFrame,
      idCol: String,
      blockers: Seq[Column],
      maxBlock: Long = 1000L): DataFrame = {
    require(blockers.nonEmpty, "blockingPairs needs at least one blocking key")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    blockers
      .map { b =>
        val keyed = records
          .select(col(idCol).cast("long").as("id"), b.as("bk"))
          .filter(col("bk").isNotNull)
          .localCheckpoint() // cap count + both self-join sides
        val ok = keyed
          .groupBy("bk")
          .agg(count(lit(1)).as("__c"))
          .filter(col("__c") <= maxBlock)
          .select("bk")
        val capped = keyed.join(ok, Seq("bk"))
        capped
          .as("a")
          .join(capped.as("b"), col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
          .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      }
      .reduce(_ unionAll _)
      .distinct()
  }

  /** The hot-block DROP report — [[blockingPairs]]' no-silent-caps
    * companion: blocks above `maxBlock` are excluded from pairing up
    * front (the canopy cap that keeps sum-of-block² bounded; a
    * 10⁶-record "unknown" block would otherwise cost 10¹² candidates),
    * and this face reports what that cap cost, per blocker — one row per
    * blocker position with `n_blocks_dropped` and `n_records_affected`
    * (ROW memberships in dropped blocks — within one blocker each input
    * row carries one key, so a row counts once per blocker; feed
    * id-distinct records, as [[blockingPairs]] effectively does, for a
    * per-record reading). A caller whose report
    * shows a fat dropped block is being told the BLOCKING KEY is too
    * coarse, not that the cap should rise.
    *
    * Scale shape: one map-side-combinable (blocker, key) count per
    * blocker folded to 1 row — strictly cheaper than the pairing it
    * audits; no joins, no pairs.
    */
  def blockingDropReport(
      records: DataFrame,
      blockers: Seq[Column],
      maxBlock: Long = 1000L): DataFrame = {
    require(blockers.nonEmpty, "blockingDropReport needs at least one blocking key")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    blockers.zipWithIndex
      .map { case (b, i) =>
        records
          .select(b.as("bk"))
          .filter(col("bk").isNotNull)
          .groupBy("bk")
          .agg(count(lit(1)).as("__c"))
          .agg(
            count(when(col("__c") > maxBlock, lit(1))).cast("long").as("n_blocks_dropped"),
            coalesce(sum(when(col("__c") > maxBlock, col("__c"))), lit(0L))
              .cast("long").as("n_records_affected"))
          .select(
            lit(i.toLong).as("blocker"),
            col("n_blocks_dropped"),
            col("n_records_affected"))
      }
      .reduce(_ unionAll _)
  }

  /** Entity resolution end to end — the [[blockingPairs]] →
    * verify → connected-components composition as ONE face, so a caller
    * gets (id, entity_id) without hand-wiring the three stages: records
    * sharing any blocking key are candidate pairs (hot blocks capped at
    * `maxBlock`, null keys never block), `verify(a, b)` — a predicate
    * over the two full record STRUCTS — gates each candidate exactly,
    * and verified pairs collapse to entities via the O(log n)
    * star-contraction components, entity_id = the component's smallest
    * record id. Records matching nothing are their OWN entity
    * (entity_id = id) — the singleton contract, so the output is a total
    * map over the input ids and `groupBy(entity_id)` is the merge.
    * Transitivity is deliberate: A~B and B~C put A and C in one entity
    * even if verify(A, C) fails — that is what resolution means; gate
    * harder in `verify` if chaining is unwanted.
    *
    * Scale shape: inherits [[blockingPairs]]' bounds (per-blocker
    * equi-self-joins, sum-of-block² candidates, capped hot blocks), two
    * id-keyed joins pulling record structs onto the candidate-bounded
    * pair table for the verify, and the fixed-round CC — records never
    * all-pairs join anywhere. The cap's cost is never silent: read
    * [[blockingDropReport]] with the same blockers for
    * n_blocks_dropped / n_records_affected per blocker.
    *
    * `materialize` (default true) localCheckpoints the input once for
    * its 4+ consumers (blocker self-joins, both verify sides, the id
    * spine) — right when `records` is a computed frame whose lineage is
    * expensive to re-run. At 100 TB OFF is usually right for a plain
    * columnar scan: re-reading the source per consumer (with column
    * pruning per use) beats duplicating the full record structs to
    * executor-local disk before any blocking happens — the same trade
    * the `fit: Option` pattern documents elsewhere. Output is identical
    * either way (the spec pins it).
    */
  def resolveEntities(
      records: DataFrame,
      idCol: String,
      blockers: Seq[Column],
      verify: (Column, Column) => Column,
      maxBlock: Long = 1000L,
      materialize: Boolean = true): DataFrame = {
    // one snapshot feeds the blockers' self-joins, both verify sides, and
    // the final id spine
    val recs = if (materialize) records.localCheckpoint() else records
    val sided = recs.select(
      col(idCol).cast("long").as("__id"),
      struct(recs.columns.map(col): _*).as("__r"))
    val verified = blockingPairs(recs, idCol, blockers, maxBlock)
      .join(sided.select(col("__id").as("doc_a"), col("__r").as("__ra")), Seq("doc_a"))
      .join(sided.select(col("__id").as("doc_b"), col("__r").as("__rb")), Seq("doc_b"))
      .filter(verify(col("__ra"), col("__rb")))
      .select("doc_a", "doc_b")
    sided
      .select(col("__id").as("id"))
      .join(clusterPairs(verified).withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("entity_id"))
  }

  /** Embedding near-dup pairs: sign-LSH blocking (bucket = sign bits of the
    * first 8 dimensions) then exact cosine within bucket, kept when
    * round(cos, 4) >= threshold. Blocking bounds the pair count to
    * sum(bucket²) instead of N².
    */
  def embeddingCosine(
      embs: DataFrame,
      threshold: Double = 0.99,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val b = Similarity.signBucket(col(vecCol), 8)
    val withB = embs.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      b.as("bucket"))
    withB
      .as("x")
      .join(
        withB.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(
        col("x.id").as("vec_a"),
        col("y.id").as("vec_b"),
        round(Similarity.cosine(col("x.v"), col("y.v")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
