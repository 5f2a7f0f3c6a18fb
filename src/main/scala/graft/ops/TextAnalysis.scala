package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, token statistics, and
  * document fingerprinting. All pure `Column` expressions (codegen'd,
  * shuffle-free per row) except the aggregations, which are single hash
  * aggs — linear at any corpus size.
  */
object TextAnalysis {

  /** Whitespace tokenization of lowercased text, empty tokens dropped.
    * Kept deliberately simple so the DuckDB oracle can mirror it exactly;
    * a BPE-ish regex variant is [[bpeTokens]].
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Rough BPE-style pre-tokenization: splits on word boundaries keeping
    * punctuation as tokens (the GPT-2 pre-tokenizer shape, minus byte-level
    * merges).
    */
  def bpeTokens(text: Column): Column =
    filter(
      split(lower(text), "(?=[^a-z0-9'])|(?<=[^a-z0-9'])"),
      t => t =!= "" && t =!= " ")

  val Stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Per-document quality signals: length, token counts, mean token length,
    * stopword ratio, and a composite score in [0,1]. Heuristics follow the
    * usual pretraining-data filters (length + stopword-density).
    */
  def quality(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tk = tokens(col(textCol))
    val nTok = size(tk).cast("long")
    val stopHits = size(filter(tk, t => t.isin(Stopwords: _*))).cast("long")
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      nTok.as("n_tokens"),
      round(
        aggregate(tk, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          greatest(nTok, lit(1L)),
        4).as("avg_token_len"),
      round(stopHits.cast("double") / greatest(nTok, lit(1L)), 4).as("stopword_ratio"),
      qualityScore(col(textCol)).as("quality_score"))
  }

  /** The composite [0,1] quality score of [[quality]] as a standalone
    * column expression (length saturation x non-stopword density, rounded
    * to 4 places) — the shared definition for any gate built on it.
    */
  def qualityScore(text: Column): Column = {
    val tk = tokens(text)
    val nTok = size(tk).cast("long")
    val stopHits = size(filter(tk, t => t.isin(Stopwords: _*))).cast("long")
    round(
      least(nTok.cast("double") / 100.0, lit(1.0)) *
        (lit(1.0) - stopHits.cast("double") / greatest(nTok, lit(1L))),
      4)
  }

  /** Marker-token sets per language for the n-gram/stopword language-ID
    * heuristic. Ties resolve in declaration order (en, de, es, fr).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "la", "los", "es"),
    "fr" -> Seq("le", "les", "des", "est"))

  /** Language ID by marker-token counting: score per language = number of
    * tokens in that language's marker set; prediction = argmax with
    * declaration-order tie-break. `keepCols` pass through unchanged (so
    * downstream group-bys, e.g. [[graft.ops.Corpus.langMixture]], avoid a
    * join back to the input).
    */
  def langId(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      keepCols: Seq[String] = Nil): DataFrame = {
    val tk = tokens(col(textCol))
    val scored = docs.select(
      (col(idCol) +: keepCols.map(col)) ++ LangMarkers.map { case (lang, markers) =>
        size(filter(tk, t => t.isin(markers: _*))).cast("long").as(s"s_$lang")
      }: _*)
    // argmax as an explicit CASE chain (declaration order wins ties) so the
    // DuckDB oracle can be textually identical in structure
    val pred = LangMarkers.indices.foldRight(lit(LangMarkers.last._1)) { (i, acc) =>
      val (lang, _) = LangMarkers(i)
      val isMax = LangMarkers
        .drop(i + 1)
        .map { case (other, _) => col(s"s_$lang") >= col(s"s_$other") }
        .foldLeft(lit(true))(_ && _)
      when(isMax, lit(lang)).otherwise(acc)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Unicode BMP ranges per script family, as regex character-class
    * bodies. RE2 (DuckDB) and java.util.regex (Spark) both accept literal
    * BMP characters in a class, so the SAME class text runs in both
    * engines; the ranges are embedded as compile-time literals.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-zÀ-ɏ",
    "cyrillic" -> "Ѐ-ӿ",
    "cjk" -> "一-鿿぀-ヿ가-힣",
    "arabic" -> "؀-ۿ")

  /** Writing-system profile: per document, the count of characters in
    * each major script range (Latin incl. accented extensions, Cyrillic,
    * CJK = Han + Kana + Hangul, Arabic) plus the dominant-script label —
    * the orthographic complement to [[langId]]'s stopword heuristic
    * (langId separates en/de/es/fr; this separates alphabets, which
    * stopword lists cannot see). Counting is deletion-based —
    * `length(s) - length(regexp_replace(s, "[range]", ""))` — a stateless
    * codegen'd projection, no tokenization, no shuffle.
    *
    * `script_pred` is an explicit CASE chain (declaration order wins
    * ties, like [[langId]]); documents with zero characters in every
    * range (empty, digits/punctuation only) are labeled 'other'.
    */
  def scriptProfile(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val counted = docs.select(
      col(idCol) +:
        length(t).cast("long").as("n_chars_total") +:
        ScriptRanges.map { case (name, range) =>
          (length(t) - length(regexp_replace(t, s"[$range]", ""))).cast("long").as(s"n_$name")
        }: _*)
    val names = ScriptRanges.map(_._1)
    val pred = names.indices.foldRight(lit(names.last): Column) { (i, acc) =>
      val isMax = names
        .drop(i + 1)
        .map(other => col(s"n_${names(i)}") >= col(s"n_$other"))
        .foldLeft(lit(true))(_ && _)
      when(isMax, lit(names(i))).otherwise(acc)
    }
    counted.withColumn(
      "script_pred",
      when(greatest(names.map(n => col(s"n_$n")): _*) === 0L, lit("other")).otherwise(pred))
  }

  /** Token statistics + rolling document fingerprint: md5 of the
    * whitespace-normalized lowercased text — the exact-dedup key.
    */
  def tokenStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tk = tokens(col(textCol))
    docs.select(
      col(idCol),
      size(tk).cast("long").as("n_tokens"),
      size(array_distinct(tk)).cast("long").as("n_distinct"),
      fingerprint(col(textCol)).as("fingerprint"))
  }

  /** Normalized-text fingerprint (C9-adjacent; the dedup-exact key). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Word n-grams over an ALREADY-MATERIALIZED token-array column,
    * NON-distinct (repetition analysis needs the multiplicity that
    * [[graft.ops.Dedup]]'s shingle sets discard). `tk` must be a projected
    * attribute, not the `tokens(...)` expression inline: higher-order
    * lambdas evaluate interpreted, and an inline expression re-splits the
    * string at every `element_at` reference (measured 13.5 s vs 1.5 s at
    * sf0.1 for [[repetition]]). Empty for docs shorter than n tokens —
    * `sequence(0, negative)` would count DOWN and feed element_at an
    * illegal index.
    */
  private[ops] def ngrams(tk: Column, n: Int): Column =
    when(
      size(tk) >= n,
      transform(
        sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(tk, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Gopher-style repetition signals: for word 2-grams and 3-grams, the
    * fraction of occurrences taken by the single most frequent gram
    * (`top2_frac`, `top3_frac`) and the fraction that are repeats of an
    * earlier occurrence (`dup2_frac`). High values flag boilerplate /
    * degenerate generations — the standard pretraining-corpus filter that
    * pure length/stopword heuristics miss.
    *
    * Execution shape: explode → per-(doc, gram) count → per-doc agg. Two
    * hash-agg shuffles keyed by doc_id (uniform), linear in corpus size;
    * docs shorter than n tokens drop out (inner join, mirrored in the
    * oracle).
    */
  def repetition(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      // tokenize ONCE into a column (see ngrams), then ONE explode pass over
      // both gram sizes, tagged (n, gram) — the downstream aggs key on
      // doc_id so both sizes ride the same shuffle
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .select(
        col("doc_id"),
        explode(
          concat(
            transform(ngrams(col("tk"), 2), g => struct(lit(2).as("n"), g.as("g"))),
            transform(ngrams(col("tk"), 3), g => struct(lit(3).as("n"), g.as("g")))))
          .as("t"))
      .select(col("doc_id"), col("t.n").as("n"), col("t.g").as("g"))
      .groupBy("doc_id", "n", "g")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("n") === 2, col("c"))).cast("long").as("total2"),
        count(when(col("n") === 2, lit(1))).cast("long").as("distinct2"),
        max(when(col("n") === 2, col("c"))).cast("long").as("max2"),
        sum(when(col("n") === 3, col("c"))).cast("long").as("total3"),
        max(when(col("n") === 3, col("c"))).cast("long").as("max3"))
      // docs need >= 3 tokens to have both gram sizes (inner-join semantics,
      // mirrored by the oracle's s2 JOIN s3)
      .filter(col("total2").isNotNull && col("total3").isNotNull)
      .select(
        col("doc_id"),
        col("total2").as("n_2grams"),
        round(col("max2").cast("double") / col("total2"), 4).as("top2_frac"),
        round(lit(1.0) - col("distinct2").cast("double") / col("total2"), 4).as("dup2_frac"),
        round(col("max3").cast("double") / col("total3"), 4).as("top3_frac"))

  /** Per-document top-k distinctive terms by tf/df (tf-idf with a rational
    * score instead of a log — same ordering for a fixed corpus, and exactly
    * expressible in both engines: one IEEE division, no transcendentals).
    *
    * Execution shape: one explode + (doc, token) count, materialized once
    * and reused for the document-frequency aggregation AND the score join
    * (the multi-consumer recompute guard); then a per-doc top-k window.
    * All shuffles key on uniform hashes (token, doc_id); df for ubiquitous
    * tokens is a bounded aggregation key, not a join hot spot, because the
    * join back is on `token` AFTER the df table has collapsed to one row
    * per token.
    */
  def topTerms(
      docs: DataFrame,
      k: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("long").as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("tok").agg(count(lit(1)).cast("long").as("df"))
    val scored = tf
      .join(df, Seq("tok"))
      .withColumn("score", col("tf").cast("double") / col("df"))
    scored
      .withColumn(
        "rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id")
            .orderBy(col("score").desc, col("tok"))))
      .filter(col("rank") <= k)
      .select(
        col("doc_id"),
        col("rank").cast("int").as("rank"),
        col("tok"),
        col("tf"),
        col("df"),
        round(col("score"), 6).as("score"))
  }

  /** Lexical relevance top-k: the k highest-scoring documents for a bag of
    * query terms, scored BM25-shaped but integer-exact:
    * `score_milli = Σ_term tf(doc, term) * idf_milli(term)` with
    * `idf_milli = round(1000 * (N - df + 0.5) / (df + 0.5))` — the
    * Robertson idf WITHOUT the log. Dropping the log keeps each term's
    * weight rational (engine-portable, hashable integer score) and
    * preserves per-term ranking; cross-term weighting is steeper than
    * true BM25 — swap in log-idf (and tf saturation) when cross-engine
    * reproducibility isn't a requirement.
    *
    * Scale shape: only postings of the QUERY terms survive the explode
    * filter, so the tf aggregation shuffles |terms|-bounded rows, not the
    * corpus; the per-term weights (|terms| rows) broadcast back; and the
    * final top-k is `orderBy(...).limit(k)` — Spark plans it as
    * TakeOrderedAndProject (per-partition heap, driver merges k·P rows),
    * never a global sort or single-partition window.
    */
  def searchTopK(
      docs: DataFrame,
      terms: Seq[String],
      k: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "query term set must not be empty")
    val n = docs.count()
    val postings = docs
      .select(col(idCol).cast("long").as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("long").as("tf"))
    scoredTopK(postings, n, k)
  }

  /** The search scoring kernel shared by [[searchTopK]] (tokenize-per-
    * query) and [[searchTextIndex]] (persisted postings): per-term df →
    * integer Robertson-shaped idf_milli → per-doc weighted sum →
    * TakeOrderedAndProject top-k. ONE kernel, two faces, so the
    * persisted ≡ in-memory contract is structural.
    */
  private def scoredTopK(postings: DataFrame, n: Long, k: Int): DataFrame = {
    val weights = postings
      .groupBy("tok")
      .agg(count(lit(1)).cast("long").as("df"))
      .withColumn(
        "idf_milli",
        round(lit(1000.0) * (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5), 0)
          .cast("long"))
    postings
      .join(broadcast(weights), Seq("tok"))
      .groupBy("doc_id")
      .agg(
        sum(col("tf") * col("idf_milli")).cast("long").as("score_milli"),
        count(lit(1)).cast("long").as("n_terms"))
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(k)
  }

  /** Exact phrase search via positional postings: per document, the number
    * of positions where the token sequence equals `phrase` — the
    * proximity-exact complement of [[searchTopK]]'s bag-of-terms ranking.
    *
    * Scale shape: the corpus-wide position explode is filtered to the
    * PHRASE'S terms immediately (the [[searchTopK]] move), so only
    * postings of query terms survive to the shuffle; each posting row is
    * assigned its phrase slot(s) by an equi-join against the |phrase|-row
    * broadcast spec (a term repeated in the phrase legitimately matches
    * several slots), rebased to the would-be phrase start
    * `base = pos - slot`, and a phrase occurrence is exactly a (doc, base)
    * group covering every distinct slot — ONE map-side-combinable
    * aggregate, no positional self-join chain, no window. A hot term
    * (phrase containing a stopword) inflates the posting table but still
    * pre-reduces per map task in the count-distinct-slot aggregate.
    */
  def phraseSearch(
      docs: DataFrame,
      phrase: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(phrase.size >= 2, s"phrase must have >= 2 terms, got ${phrase.mkString(" ")}")
    val spark = docs.sparkSession
    import spark.implicits._
    val spec = phrase.zipWithIndex.map { case (t, i) => (t.toLowerCase, i.toLong) }.toDF("tok", "slot")
    // _outer + a generated-attribute filter: the plain variant lets
    // InferFiltersFromGenerate re-evaluate the whole token chain per row
    // in a non-codegen Filter (see SCALE.md); the isin filter drops the
    // null row an empty/null text emits
    val postings = docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        posexplode_outer(tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase.map(_.toLowerCase): _*))
    postings
      .join(broadcast(spec), Seq("tok"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("base"), col("slot"))
      .filter(col("base") >= 0)
      .groupBy("doc_id", "base")
      .agg(count_distinct(col("slot")).as("n_slots"))
      .filter(col("n_slots") === phrase.size.toLong)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_hits"),
        min("base").cast("long").as("first_pos"))
  }

  // ---- persisted lexical search index (tokenize once, search many) ----
  //
  // [[searchTopK]] re-tokenizes the corpus per query — right for ad-hoc
  // analysis, wrong for SERVING search at corpus scale, where the scan
  // must be proportional to the query, not the corpus. The store writes
  // postings ONCE, hash-bucketed by TOKEN (`postings/bucket=K`), so a
  // query's read prunes at the scan to its own terms' buckets — the
  // lexical twin of the IVF cell layout and the edge store's support
  // buckets. Trees: `postings` (doc_id, tok, tf; bucketed), `docids`
  // (one row per indexed doc — the idf N and the append dedupe base),
  // `tombstones` (standard [[graft.ops.Similarity.deleteFromIndex]]
  // lifecycle), `bucketing` (count pin, the graph-store rule), `params`.
  // Appends commit through a staged tree (write staged.compacting,
  // rename = atomic commit, apply = move uniquely-named part files into
  // the live dirs), so postings and docids can never disagree: a crashed
  // append either never happened or rolls forward, and the re-run's
  // delta anti-joins `docids` so an applied batch is never re-posted.

  /** Default bucket count for new text indexes (batch builds take a
    * `buckets` argument; stream claims use this — the count is PINNED in
    * the store either way, so the default only matters at claim time).
    */
  private val defaultTextBuckets = 64

  private[graft] def tokBucket(tok: Column, n: Int) = pmod(hash(tok), lit(n))

  /** The bucket count the index was laid out with
    * ([[graft.ops.StoreLifecycle.readBucketing]]). Unlike the graph
    * stores there are NO legacy pinless text stores (every write face
    * pins), so a missing pin only ever means a damaged tree and is
    * refused: defaulting would make a non-64-bucket store silently return
    * near-empty results.
    */
  private[graft] def textIndexBuckets(
      spark: org.apache.spark.sql.SparkSession, path: String): Int =
    StoreLifecycle.readBucketing(
      spark, path,
      ifAbsent = throw new IllegalStateException(
        s"text index at $path has no bucketing pin — the store is damaged or " +
          "partially copied; rebuild with writeTextIndex (or restart the stream)"))

  /** The store's id contract, checked at every write face: one row per
    * doc_id. A duplicated id would double every tf it carries and
    * inflate idf's N — silently and, because later resends anti-join as
    * "already known", UNREPAIRABLY — so it refuses up front. One bounded
    * aggregation over the batch (the [[graft.ops.Similarity]]
    * vecDimProfile posture: the whole batch is seen, a limit-probe
    * would wave duplicates through).
    */
  private def requireUniqueDocIds(df: DataFrame, idCol: String, op: String): Unit = {
    // over the CAST id — postings key by doc_id.cast(long), so ids
    // distinct pre-cast but equal post-cast ("7"/" 7", 7.2/7.9) are
    // duplicates to the store and must refuse too
    val r = df.agg(
      count(lit(1)).as("n"),
      count_distinct(col(idCol).cast("long")).as("nd")).head()
    require(
      r.getLong(0) == r.getLong(1),
      s"$op: batch carries ${r.getLong(0) - r.getLong(1)} duplicated '$idCol' rows — " +
        "the index keys postings by doc id; dedupe the batch before indexing it")
  }

  /** (doc_id, tok, tf) postings of a document frame — the one tokenize
    * pass the store amortizes.
    */
  private def postingsOf(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("long").as("tf"))

  /** Build the persisted search index: one tokenize pass, postings
    * bucketed by token hash, the doc-id table beside them. A full write
    * REPLACES everything (tombstones, staged trees, pin — the
    * [[graft.ops.Graph.writeEdgeStore]] contract); interrupted full
    * writes refuse incrementally and re-run to completion.
    *
    * Scale shape: one corpus tokenize + one shuffle onto the bucket
    * column (one file per bucket — the pruned-read discipline); queries
    * then scan |terms| buckets of the store, never the corpus.
    */
  def writeTextIndex(
      docs: DataFrame,
      path: String,
      buckets: Int = defaultTextBuckets,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    require(buckets >= 1 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    requireUniqueDocIds(docs, idCol, "writeTextIndex")
    StoreLifecycle.markInflight(spark, path, "writeTextIndex")
    StoreLifecycle.wipe(spark, path, Seq("fold_pin"))
    StoreLifecycle.writeBucketing(spark, path, buckets)
    StoreLifecycle.rewriteDir(
      spark,
      postingsOf(docs, textCol, idCol)
        .withColumn("bucket", tokBucket(col("tok"), buckets))
        .repartition(col("bucket")), // one file per bucket, not per task x bucket
      s"$path/postings",
      Seq("bucket"))
    StoreLifecycle.rewriteDir(
      spark,
      docs.select(col(idCol).cast("long").as("doc_id")).distinct(),
      s"$path/docids",
      Nil)
    Seq(("text", buckets)).toDF("kind", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    StoreLifecycle.clearInflight(spark, path)
  }

  /** Grow the index with a new document batch: ONE staged commit carries
    * the batch's postings (into their token buckets) AND its doc ids, so
    * the two trees can never disagree. The delta anti-joins `docids`
    * first — a crashed append's re-run (the documented repair) re-posts
    * nothing its staged tree already applied, and a duplicate resend is
    * a no-op. Re-inserting a tombstoned doc refuses (compact first, the
    * edge-store rule). Scale shape: tokenize + shuffle of the BATCH
    * only; the live tree is touched file-move-wise, never rewritten.
    */
  def appendTextIndex(
      batch: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    StoreLifecycle.repair(spark, path, textRepair)
    requireTextBatchBuilt(spark, path, "appendTextIndex")
    requireUniqueDocIds(batch, idCol, "appendTextIndex")
    val nb = textIndexBuckets(spark, path)
    // dedupe against the LIVE id set (docids minus tombstones): a
    // tombstoned doc must land in the delta so the refusal below fires —
    // an all-docids anti-join would silently swallow the re-insert as
    // "already known" while the doc stays deleted (the edge-store rule)
    val delta = batch
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .join(
        StoreLifecycle.minusTombstones(
          spark, path, spark.read.parquet(s"$path/docids"), "doc_id"),
        Seq("doc_id"),
        "left_anti")
      .localCheckpoint()
    if (delta.isEmpty) return
    requireNoneTombstoned(spark, path, delta)(n =>
      s"appendTextIndex: $n batch docs are tombstoned in $path — compact the index before " +
        "re-inserting a deleted document")
    // a manifest-less staged tree: each tree's part files append into
    // its live twin, postings bucket by bucket
    StoreLifecycle.commitTree(spark, path, "appendTextIndex") { tmp =>
      postingsOf(delta, "text", "doc_id")
        .withColumn("bucket", tokBucket(col("tok"), nb))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(s"$tmp/postings")
      delta.select("doc_id").coalesce(1).write.parquet(s"$tmp/docids")
    }
  }

  /** Refuse a delta re-inserting tombstoned docs (`msg` states the
    * count): the tombstone would silently eat the re-insert on read —
    * compaction must come first (the edge-store rule).
    */
  private def requireNoneTombstoned(
      spark: org.apache.spark.sql.SparkSession, path: String, delta: DataFrame)(
      msg: Long => String): Unit =
    StoreLifecycle.tombstones(spark, path).foreach { t =>
      val nTomb = t.join(delta.select(col("doc_id").as("del_id")), Seq("del_id"), "left_semi")
        .count()
      require(nTomb == 0, msg(nTomb))
    }

  /** Retract documents: ids land in `tombstones`
    * ([[graft.ops.Similarity.deleteFromIndex]]) and every read subtracts
    * them; [[compactTextIndex]] reclaims.
    */
  def deleteFromTextIndex(ids: DataFrame, path: String, idCol: String = "doc_id"): Unit = {
    StoreLifecycle.repair(ids.sparkSession, path, textRepair)
    Similarity.deleteFromIndex(ids, path, idCol)
  }

  /** Fold the index: rewrite postings and docids without tombstoned
    * docs, clear the tombstones. Every step is an idempotent anti-join
    * rewrite, so a crashed compact re-runs to completion from any window
    * (unlike the edge store's support arithmetic, re-subtracting an
    * already-subtracted doc is a no-op — no staged flag needed).
    */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    StoreLifecycle.repair(spark, path, textRepair)
    StoreLifecycle.markInflight(spark, path, "compactTextIndex")
    val postings = StoreLifecycle.minusTombstones(
      spark, path, spark.read.parquet(s"$path/postings"), "doc_id")
    // a STREAM store stays batch-keyed after the fold: everything lands
    // under the synthetic batch_id=-1 generation (real ids are >= 0), so
    // the next ingest batch's dir sits beside it and compaction is safe
    // MID-stream — the compactIndexDir rule
    // a compact that empties a PARTITIONED tree (every doc tombstoned)
    // would otherwise swap in a dir with no parquet files — the next
    // read fails schema inference instead of serving empty results; one
    // limit-0 seed file under a synthetic partition keeps it readable
    // (the StoreLifecycle.commit precedent)
    def seedIfEmpty(dir: String, leafPath: String, schemaDf: DataFrame): Unit = {
      val fs = StoreLifecycle.fsOf(spark, dir)
      val hasParts = fs.exists(new org.apache.hadoop.fs.Path(dir)) &&
        fs.listStatus(new org.apache.hadoop.fs.Path(dir)).exists(_.isDirectory)
      if (!hasParts)
        schemaDf.limit(0).write.mode("overwrite").parquet(s"$dir/$leafPath")
    }
    if (postings.columns.contains("batch_id")) {
      // record the fold point FIRST (the compactCcLog rule: a crash
      // between pin and rewrite only over-refuses below-pin as-of reads):
      // generations <= the current max collapse into batch_id=-1, so
      // [[searchTextIndexAsOf]] below that point must refuse
      val maxGen = spark.read.parquet(s"$path/docids")
        .agg(max(col("batch_id")).cast("long")).head().getLong(0)
      // forward-only: a re-fold of an ALREADY-folded store sees
      // maxGen = -1 and must keep the prior pin — overwriting it with -1
      // would silently re-admit below-fold as-of reads over folded data
      val prior = StoreLifecycle.readSmallFile(spark, s"$path/fold_pin")
        .fold(Long.MinValue)(_.trim.toLong)
      val pin = math.max(maxGen, prior)
      if (pin >= 0L) StoreLifecycle.writeSmallFile(spark, s"$path/fold_pin", pin.toString)
      StoreLifecycle.rewriteDir(
        spark,
        postings.select("doc_id", "tok", "tf", "bucket").withColumn("batch_id", lit(-1L)),
        s"$path/postings",
        Seq("batch_id", "bucket"))
      seedIfEmpty(s"$path/postings", "batch_id=-1/bucket=0",
        postings.select("doc_id", "tok", "tf"))
      StoreLifecycle.rewriteDir(
        spark,
        StoreLifecycle.minusTombstones(
          spark, path, spark.read.parquet(s"$path/docids"), "doc_id")
          .select("doc_id").withColumn("batch_id", lit(-1L)),
        s"$path/docids",
        Seq("batch_id"))
      seedIfEmpty(s"$path/docids", "batch_id=-1",
        postings.select("doc_id"))
    } else {
      StoreLifecycle.rewriteDir(spark, postings, s"$path/postings", Seq("bucket"))
      seedIfEmpty(s"$path/postings", "bucket=0",
        postings.select("doc_id", "tok", "tf"))
      StoreLifecycle.rewriteDir(
        spark,
        StoreLifecycle.minusTombstones(
          spark, path, spark.read.parquet(s"$path/docids"), "doc_id"),
        s"$path/docids",
        Nil)
    }
    StoreLifecycle.clearTombstones(spark, path)
    StoreLifecycle.clearInflight(spark, path)
  }

  /** A params pin of kind `text-stream` marks an [[ingestTextBatch]]-
    * maintained store; the batch mutators refuse it — a flat staged
    * append beside `batch_id=N` generations would corrupt partition
    * discovery (the [[graft.ops.Graph]] batch/stream split).
    */
  private def requireTextBatchBuilt(
      spark: org.apache.spark.sql.SparkSession, path: String, op: String): Unit =
    if (StoreLifecycle.storeExists(spark, s"$path/params")) {
      val kind = spark.read.parquet(s"$path/params").select("kind").head().getString(0)
      require(
        kind == "text",
        s"$op: the index at $path is maintained by ingestTextBatch (kind '$kind') — " +
          "stream stores grow through their stream, not batch appends")
    }

  /** The index's [[graft.ops.StoreLifecycle.repair]], run by every
    * mutator first: a COMMITTED staged append rolls forward, a crashed
    * compact's complete `.compacting` swaps roll forward (re-running
    * compact finishes the rest — all its steps are idempotent), and the
    * marker clears. An interrupted full [[writeTextIndex]] refuses (a
    * half-replaced store is not incrementally repairable — the
    * graph-store rule), and so does an interrupted [[ingestTextBatch]]: a
    * half-landed stream generation (postings without docids) is repaired
    * ONLY by its own retry, which overwrites the whole generation;
    * folding or appending around it would bake the inconsistency in.
    */
  private val textRepair = StoreLifecycle.Repair(
    "text index",
    Seq(
      "writeTextIndex" ->
        "a full rebuild is not incrementally repairable; re-run writeTextIndex to completion",
      "ingestTextBatch" ->
        ("re-run the stream (the retried batch overwrites its own generation); other " +
          "mutators cannot repair a half-landed generation")),
    Seq("postings", "docids"),
    lostFails = false)

  /** One micro-batch of STREAMING index maintenance (the foreachBatch
    * body of [[graft.streaming.TextIngest.textIngest]]): batch 0 — or a
    * store with no params pin — CLAIMS the root (stale state dies first,
    * the StoreLifecycle rule; an empty claim defers nothing — postings
    * need no training — but still wipes); every later batch lands ONLY
    * its actually-new documents' postings under
    * `postings/batch_id=N/bucket=K` and their ids under
    * `docids/batch_id=N`, both with OVERWRITE semantics. EXACTLY-ONCE
    * from idempotence, no stamp needed (the [[graft.ops.Graph.ingestCcBatch]]
    * argument's shape): postings are per-document data, never a
    * cross-batch aggregate, so a retried batch recomputes its delta
    * against the docids EXCLUDING its own generation (a half-landed gen
    * never hides its own delta) and re-overwrites gen N — nothing
    * double-counts. The crash marker spans the postings↔docids window
    * for PROBE safety; the retried batch itself resolves it (re-running
    * the interrupted op is the documented repair — [[textRepair]]
    * refuses every OTHER mutator meanwhile). A pure-duplicate batch
    * deletes any half-landed garbage of its own generation and lands
    * nothing. Bucket pruning survives the generation split: `bucket` is
    * a partition column at every generation, so a probe's term filter
    * still drops unprobed buckets of every gen at the scan.
    */
  def ingestTextBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // the claim wipes BEFORE the empty check (the StoreLifecycle rule)
    if (StoreLifecycle.claim(
        spark, path, batchId, Seq("postings", "docids", "bucketing", "fold_pin"))) {
      val b = batch.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      if (b.isEmpty) return
      requireUniqueDocIds(b, "doc_id", "ingestTextBatch")
      StoreLifecycle.markInflight(spark, path, "ingestTextBatch")
      StoreLifecycle.writeBucketing(spark, path, defaultTextBuckets)
      postingsOf(b, "text", "doc_id")
        .withColumn("bucket", tokBucket(col("tok"), defaultTextBuckets))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings/batch_id=$batchId")
      b.select("doc_id").distinct().coalesce(1)
        .write.mode("overwrite").parquet(s"$path/docids/batch_id=$batchId")
      Seq(("text-stream", defaultTextBuckets)).toDF("kind", "buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
      StoreLifecycle.clearInflight(spark, path)
      return
    }
    // a marker from our own crashed attempt is resolved by THIS retry
    // (we overwrite the whole generation); any other op's marker refuses
    StoreLifecycle.repair(spark, path, textRepair, resuming = "ingestTextBatch")
    // the reverse of requireTextBatchBuilt: a resumed stream (checkpoint
    // past batch 0) pointed at a batch-built store must refuse by name,
    // not fall over on the missing batch_id column
    locally {
      val kind = spark.read.parquet(s"$path/params").select("kind").head().getString(0)
      require(
        kind == "text-stream",
        s"ingestTextBatch: the index at $path is batch-built (kind '$kind') — a stream " +
          "claims the root at batch 0; point a FRESH stream (new checkpoint) at it")
    }
    requireUniqueDocIds(batch, idCol, "ingestTextBatch")
    val nb = textIndexBuckets(spark, path)
    // dedupe against the LIVE set (docids minus tombstones, excluding our
    // own possibly-half-landed generation): a tombstoned doc must land in
    // the delta so the refusal below fires — the appendTextIndex rule;
    // swallowing the re-insert as "already known" would leave the doc
    // deleted while the producer believes it re-indexed
    val known = StoreLifecycle.minusTombstones(
      spark,
      path,
      spark.read.parquet(s"$path/docids")
        .filter(col("batch_id") =!= batchId) // a half-landed retry must not hide its own delta
        .select("doc_id"),
      "doc_id")
    val delta = batch
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .join(known, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    requireNoneTombstoned(spark, path, delta)(n =>
      s"ingestTextBatch: $n stream docs are tombstoned in $path — compact the index " +
        "before re-inserting a deleted document (the stream fails fast rather than " +
        "silently keeping the doc deleted)")
    if (delta.isEmpty) {
      // pure duplicate: no new generation — but a CRASHED earlier attempt
      // of this very batch may have half-landed it; deleting gen N is the
      // idempotent way to retire that garbage
      StoreLifecycle.deleteDir(spark, s"$path/postings/batch_id=$batchId")
      StoreLifecycle.deleteDir(spark, s"$path/docids/batch_id=$batchId")
      StoreLifecycle.clearInflight(spark, path)
      return
    }
    StoreLifecycle.markInflight(spark, path, "ingestTextBatch")
    postingsOf(delta, "text", "doc_id")
      .withColumn("bucket", tokBucket(col("tok"), nb))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings/batch_id=$batchId")
    delta.select("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/docids/batch_id=$batchId")
    StoreLifecycle.clearInflight(spark, path)
  }

  /** Serve [[searchTopK]] from the persisted index: the postings read
    * prunes at the scan to the QUERY TERMS' buckets (PartitionFilters on
    * the bucket column — the plan spec pins it), tombstoned docs
    * subtract, and the [[scoredTopK]] kernel makes the result
    * bit-identical to [[searchTopK]] over the live document set (the
    * persisted ≡ in-memory contract, shared oracle). Scale shape: a
    * query against a corpus-scale store reads |terms| buckets ≈
    * |terms|/buckets of the postings, one bounded |terms|-row local
    * job derives the bucket set with THE Spark hash (never
    * re-implemented driver-side), and idf's N is one count over the
    * 1-column docids table.
    */
  def searchTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      terms: Seq[String],
      k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "query term set must not be empty")
    import spark.implicits._
    StoreLifecycle.requireNotInflight(spark, path)
    serveTextIndex(spark, path, terms, k, None)
  }

  /** ONE pruned-serving tail for both read faces ([[searchTextIndex]]
    * live, [[searchTextIndexAsOf]] generation-restricted): term-bucket
    * derivation with THE Spark hash, partition-pruned postings read,
    * tombstone subtraction (a no-op on the as-of face, which refused
    * tombstoned stores already), the docids N, the scoring kernel.
    */
  private def serveTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      terms: Seq[String],
      k: Int,
      asOf: Option[Long]): DataFrame = {
    import spark.implicits._
    val nb = textIndexBuckets(spark, path)
    val termBuckets = terms.toDF("tok")
      .select(tokBucket(col("tok"), nb).as("b"))
      .distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // bounded: <= |terms| rows
    def gen(df: DataFrame): DataFrame =
      asOf.map(n => df.filter(col("batch_id") <= n)).getOrElse(df)
    val postings = StoreLifecycle.minusTombstones(
      spark,
      path,
      gen(spark.read.parquet(s"$path/postings"))
        .filter(col("bucket").isin(termBuckets: _*)) // prunes on the PARTITION column
        .filter(col("tok").isin(terms: _*))
        .select("doc_id", "tok", "tf"),
      "doc_id")
    val n = StoreLifecycle.minusTombstones(
      spark, path, gen(spark.read.parquet(s"$path/docids")), "doc_id").count()
    scoredTopK(postings, n, k)
  }

  /** TIME-TRAVEL read of a STREAM text index: [[searchTextIndex]] as of
    * generation `batchId` — the text store closing the as-of symmetry
    * the edge store ([[graft.ops.Graph.liveEdgesAsOf]]) and the label
    * store ([[graft.ops.Graph.readCcLabelsAsOf]]) already answer. The
    * batch-id-keyed generation layout IS the retention log: restrict
    * postings AND docids to `batch_id <= N` (one partition-pruned
    * filter each — a folded `batch_id=-1` prefix rides in naturally)
    * and score with the same kernel, so the answer equals serving the
    * index as it stood after generation N — idf's historical N
    * included. Refusals are explicit: a batch-built store keeps no
    * generations; a fold ([[compactTextIndex]]) makes resolution below
    * its pinned point indivisible; and a TOMBSTONED store refuses
    * outright, because deletes are not generation-stamped — "as of N"
    * with retroactive deletes is a different question than this store
    * records (compaction reclaims and clears, after which as-of
    * answers again above the fold).
    */
  def searchTextIndexAsOf(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      terms: Seq[String],
      batchId: Long,
      k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "query term set must not be empty")
    import spark.implicits._
    StoreLifecycle.requireNotInflight(spark, path)
    val kind = spark.read.parquet(s"$path/params").select("kind").head().getString(0)
    require(
      kind == "text-stream",
      s"searchTextIndexAsOf: the index at $path is batch-built (kind '$kind') — only " +
        "ingestTextBatch-maintained stores keep batch_id generations to travel over")
    require(
      !StoreLifecycle.storeExists(spark, s"$path/tombstones"),
      s"searchTextIndexAsOf: $path carries tombstones, which are not generation-" +
        "stamped — an as-of read cannot know whether a delete precedes generation " +
        s"$batchId; compact the store (reclaim + clear) and as-of reads resume above " +
        "the fold")
    StoreLifecycle.readSmallFile(spark, s"$path/fold_pin").foreach { pin =>
      val folded = pin.trim.toLong
      require(
        batchId >= folded,
        s"searchTextIndexAsOf: generations <= $folded of $path were folded by " +
          s"compactTextIndex (asked for $batchId) — the folded prefix is indivisible; " +
          "compaction bounds resolution")
    }
    serveTextIndex(spark, path, terms, k, Some(batchId))
  }

  /** Keep-predicate for one line of text, C4-style (Raffel et al. 2020, the
    * public C4 cleaning rules): at least `minWords` whitespace words, ends
    * with terminal punctuation, and no code/boilerplate markers
    * ("javascript", '{'). Expressed as a pure boolean `Column` so it runs
    * inside a higher-order `filter` lambda — per-row, shuffle-free.
    */
  def lineKeep(l: Column, minWords: Int = 5): Column = {
    val t = trim(l)
    val words = size(filter(split(t, "\\s+"), w => w =!= ""))
    words >= minWords &&
    substring(t, -1, 1).isin(".", "!", "?", "\"") &&
    !lower(t).contains("javascript") &&
    !t.contains("{")
  }

  /** The non-empty lines of `text` surviving [[lineKeep]], in order.
    * Splits on `\r?\n` so CRLF corpora don't smuggle a trailing CR into
    * every line's terminal-punctuation test.
    */
  def keptLines(text: Column, minWords: Int = 5): Column =
    filter(filter(split(text, "\r?\n"), l => trim(l) =!= ""), l => lineKeep(l, minWords))

  /** The cleaned text itself (kept lines re-joined) — the transform face
    * the corpus-prep pipeline applies; [[cleanLines]] is the audit face.
    */
  def cleanedText(text: Column, minWords: Int = 5): Column =
    concat_ws("\n", keptLines(text, minWords))

  /** C4-style line-level cleaning: drop lines that are short, unterminated,
    * or carry code/boilerplate markers; keep the rest in order. Returns the
    * per-doc audit face (line counts + digest of the cleaned text) — the
    * hashable contract; callers wanting the cleaned text use
    * [[cleanedText]].
    *
    * Scale shape: split/filter/concat are all higher-order functions over
    * the text column — one narrow projection, zero shuffles, linear at any
    * corpus size and pipelines with whatever scan feeds it.
    */
  def cleanLines(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val lines = filter(split(col(textCol), "\r?\n"), l => trim(l) =!= "")
    val kept = keptLines(col(textCol))
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      md5(concat_ws("\n", kept)).as("kept_md5"))
  }

  /** URL pattern: scheme + non-space run (ASCII-safe, RE2-compatible). */
  val UrlRe = "https?://[^\\s]+"

  /** Per-domain link statistics: extract every URL from every document,
    * parse the host, and aggregate url/document counts per domain — the
    * domain-frequency table that drives crawl blocklists and per-site
    * quality priors in web-corpus curation.
    *
    * Scale shape: extraction is a per-row regexp + explode (narrow); the
    * only shuffle is the hash aggregation keyed by domain. Domains are
    * heavy-tailed, but count/count-distinct both partial-aggregate
    * map-side, so a hot domain arrives at its reducer pre-collapsed to
    * one row per (domain, doc) — never the raw URL stream.
    */
  def urlDomains(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), regexp_extract(col("url"), "https?://([^/\\s]+)", 1).as("domain"))
      .groupBy("domain")
      .agg(
        count(lit(1)).cast("long").as("n_urls"),
        countDistinct(col("doc_id")).cast("long").as("n_docs"))

  /** Deterministic URL canonicalization: lowercase, fragment stripped,
    * `utm_*`-tracking query strings stripped, trailing slashes stripped —
    * the web-corpus subset of canonicalization that is pure regex and so
    * mirrors in any RE2 engine (full RFC 3986 normalization — percent
    * decoding, host IDN, default ports — is a library concern upstream of
    * the corpus, not re-implemented here).
    */
  def canonicalUrl(url: Column): Column =
    lower(
      regexp_replace(
        regexp_replace(
          regexp_replace(url, "#[^\\s]*", ""),   // fragment
          "\\?utm_[^#\\s]*", ""),                // utm-only tracking query
        "/+$", ""))                              // trailing slashes

  /** URL-level dedup (the crawl-frontier / web-corpus "same page, many
    * links" collapse): extract every URL, canonicalize via
    * [[canonicalUrl]], and group — one row per canonical URL with its
    * mention count, document reach, and the minimum doc id as the group
    * representative. Tracking-parameter and fragment variants of one page
    * land in one group; `n_urls > n_docs` flags pages linked repeatedly
    * within documents.
    *
    * Scale shape: extraction + canonicalization are per-row regex
    * projections; the only shuffle is one hash aggregation keyed by the
    * canonical URL (count and count-distinct both partial-aggregate
    * map-side, so a hub URL arrives at its reducer pre-collapsed — same
    * envelope as [[urlDomains]]).
    */
  def urlCanonicalGroups(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), canonicalUrl(col("url")).as("canon_url"))
      .groupBy("canon_url")
      .agg(
        count(lit(1)).cast("long").as("n_urls"),
        countDistinct(col("doc_id")).cast("long").as("n_docs"),
        min(col("doc_id")).cast("long").as("rep_doc"))

  /** Feature-hashing vectorizer (the hashing trick, Weinberger et al.
    * 2009): each token maps to `md5(token) mod nFeatures` and a document
    * becomes the sparse count vector over those buckets. The property that
    * matters at corpus scale: NO vocabulary state — no fitted dictionary
    * to build, broadcast, or keep consistent across incremental runs, and
    * the dimensionality is fixed up front. Collisions are the accepted
    * trade (two tokens sharing a bucket add their counts).
    *
    * Output is the audit face: per doc, the number of occupied buckets,
    * the token total, and a digest of the sorted (bucket, weight) pairs —
    * deterministic and oracle-hashable; callers wanting the sparse vector
    * itself stop before the digest aggregation.
    *
    * One explode + two hash aggregations on uniform keys ((doc, bucket),
    * then doc); entirely free of driver state.
    */
  def hashingVectors(
      docs: DataFrame,
      nFeatures: Int = 1024,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(nFeatures > 0, "nFeatures must be positive")
    val d = (i: Int) => expr(s"locate(substring(md5(tok), $i, 1), '0123456789abcdef')") - 1
    val bucket = ((d(1) * 256 + d(2) * 16 + d(3)) % nFeatures).cast("long")
    docs
      .select(col(idCol).cast("long").as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), bucket.as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).cast("long").as("w"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_features"),
        sum("w").cast("long").as("n_tokens"),
        md5(
          concat_ws(
            ",",
            transform(
              array_sort(collect_list(struct(col("bucket"), col("w")))),
              s =>
                concat(
                  s.getField("bucket").cast("string"),
                  lit(":"),
                  s.getField("w").cast("string"))))).as("vec_md5"))
  }

  /** Flesch reading-ease readability in exact integer milli — the
    * classic grade-level quality signal next to [[quality]]'s
    * length/stopword gates (a wall of jargon and a children's story can
    * carry the same stopword ratio; readability separates them):
    * `flesch_milli = 206835 − (1015·words) div sentences −
    * (84600·syllables) div words`, with sentences = runs of `[.!?]`
    * (min 1) and syllables the standard vowel-group heuristic
    * (`[aeiouy]+` runs per token, min 1 per word — "rhythm" counts its
    * y). Trunc division both engines share; raw counts ride along so a
    * consumer can re-derive any variant (Flesch–Kincaid grade is the
    * same three counts). ~100k milli reads easy prose, negative reads
    * academic sludge — the usual Flesch bands, milli-scaled.
    *
    * Scale shape: one row per document, all counts computed in a single
    * projection (two regexp scans + one token fold per doc, no shuffle
    * at all until the caller aggregates).
    */
  def readability(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // coalesce to '': Spark's legacy size(null) = -1 would otherwise ship
    // a negative n_words for a null text instead of the honest zero-counts
    val safe = coalesce(col(textCol), lit(""))
    val tk = tokens(safe)
    val w0 = size(tk).cast("long")
    val s0 = size(regexp_extract_all(lower(safe), lit("[.!?]+"), lit(0))).cast("long")
    val syl = aggregate(
      tk,
      lit(0L),
      (acc, t) =>
        acc + greatest(size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))).cast("long"), lit(1L)))
    docs
      .select(
        col(idCol),
        w0.as("n_words"),
        s0.as("n_sentences"),
        syl.as("n_syllables"))
      .withColumn(
        "flesch_milli",
        expr(
          "CAST(206835 - (1015 * n_words) div greatest(n_sentences, 1) " +
            "- (84600 * n_syllables) div greatest(n_words, 1) AS BIGINT)"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents") in exact integers: candidate
    * phrases are the maximal stopword-free token runs of a document
    * (runs longer than `maxPhraseLen` dropped, the RAKE convention),
    * each member word scores `wscore_micro = 10⁶·degree div freq` over
    * the document's candidates (degree = Σ length of phrases containing
    * it — co-occurrence reach; freq = its occurrences), and a phrase
    * scores the sum of its members' scores — so multi-word technical
    * terms outrank frequent single words. Identical phrases collapse
    * with an occurrence count; top-`topK` per document by (score desc,
    * phrase asc). The trunc-div per word is the deterministic
    * integer reading of RAKE's deg/freq ratio — engine-portable where
    * the float ratio is not.
    *
    * Scale shape: one posexplode (the `_outer` + generated-attribute
    * filter probe rule), one running-sum window at TOKEN grain
    * (per-document ordering — the same grain sessionization windows),
    * then hash aggregates at phrase/word grain and one id-keyed join;
    * no corpus-wide state, every stage map-side combinable.
    */
  def keyphrases(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      topK: Int = 5,
      maxPhraseLen: Int = 4): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxPhraseLen >= 1, s"maxPhraseLen must be >= 1, got $maxPhraseLen")
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(
        col(idCol).cast("long").as("id"),
        posexplode_outer(tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(col("tok").isNotNull) // _outer + generated-attr filter: the explode probe rule
      .withColumn("stop", col("tok").isin(Stopwords: _*).cast("long"))
    // gaps-and-islands on the stopword markers: ph = stopwords seen so
    // far, so each maximal stopword-free run is one candidate phrase
    val seg = base
      .withColumn("ph", sum("stop").over(Window.partitionBy("id").orderBy("pos")))
      .filter(col("stop") === 0)
    val phr = seg
      .groupBy("id", "ph")
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))), s => s.getField("tok"))
          .as("wds"))
      .filter(size(col("wds")) <= maxPhraseLen)
      .localCheckpoint() // word-stat explode + the phrase-score join spine
    val members = phr.select(
      col("id"), col("ph"), size(col("wds")).cast("long").as("plen"), explode(col("wds")).as("wd"))
    val wstats = members
      .groupBy("id", "wd")
      .agg(count(lit(1)).cast("long").as("freq"), sum("plen").cast("long").as("deg"))
      .withColumn("wscore", expr("CAST((1000000 * deg) div freq AS BIGINT)"))
    val pscores = members
      .join(wstats.select("id", "wd", "wscore"), Seq("id", "wd"))
      .groupBy("id", "ph")
      .agg(sum("wscore").cast("long").as("score_micro"))
    phr
      .join(pscores, Seq("id", "ph"))
      .groupBy(col("id"), array_join(col("wds"), " ").as("phrase"))
      .agg(
        max(size(col("wds"))).cast("long").as("n_words"),
        count(lit(1)).cast("long").as("n_occurrences"),
        max("score_micro").cast("long").as("score_micro"))
      .withColumn(
        "rank",
        row_number()
          .over(Window.partitionBy("id").orderBy(col("score_micro").desc, col("phrase").asc))
          .cast("long"))
      .filter(col("rank") <= topK)
      .select(
        col("id").as(idCol), col("phrase"), col("n_words"),
        col("n_occurrences"), col("score_micro"), col("rank"))
  }

  /** Bigram collocation mining: the corpus's top-k adjacent token pairs by
    * integer lift, `lift_milli = (1000 * N * c_xy) div (c_x * c_y)` — the
    * PMI ordering without the log, usable for tokenizer-merge candidates
    * and multi-word-expression discovery. Integer arithmetic keeps the
    * ranking engine-portable; it is exact while `1000 * N * c_xy` fits
    * int64 (corpora to ~10^7 tokens for the hottest bigram — switch the
    * lift to DECIMAL beyond that).
    *
    * Execution shape: one bigram explode + hash agg (the `minCount` filter
    * prunes the long tail before any join), unigram counts collapse to one
    * row per token and are materialized once for both join sides, N rides
    * in as a driver scalar, and the final top-k is orderBy+limit —
    * TakeOrderedAndProject, never a global sort.
    */
  def collocations(
      docs: DataFrame,
      minCount: Long = 5,
      k: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val big = docs
      .select(tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(
        explode(
          transform(
            sequence(lit(0), size(col("tk")) - 2),
            i =>
              struct(
                element_at(col("tk"), i + 1).as("x"),
                element_at(col("tk"), i + 2).as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).cast("long").as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uni = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint()
    val n = uni.agg(sum(col("c"))).first().getLong(0)
    big
      .join(uni.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
      .select(
        col("x"),
        col("y"),
        col("c_xy"),
        expr(s"(1000 * CAST($n AS BIGINT) * c_xy) div (c_x * c_y)").cast("long").as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Unigram rarity score — the engine-portable slot where a real pipeline
    * runs an LM-perplexity quality filter (KenLM-style): documents made of
    * corpus-rare tokens score high, boilerplate made of ubiquitous tokens
    * scores low. Each token's weight is `N div ctf(token)` (corpus token
    * count over the token's corpus frequency) — the reciprocal-probability
    * integer surrogate for `-log p`; a doc's `rarity_sum` is the weighted
    * token count and `rarity_milli` the per-token average ×1000. All
    * integer arithmetic: order-independent, overflow-safe to ~9e15 corpus
    * tokens, hash-identical across engines (a float surprisal sum would be
    * summation-order-dependent and never oracle-stable).
    *
    * Execution shape: one explode into a (doc, token) count (materialized
    * once — it feeds the corpus-frequency aggregation AND the score join),
    * corpus frequencies collapse to one row per token before the join back
    * (hot tokens arrive pre-aggregated), the corpus total rides in as a
    * literal (driver-sized scalar, same as [[searchTopK]]'s N), and the
    * final per-doc aggregation keys on uniform doc ids.
    */
  def unigramRarity(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = docs
      .select(col(idCol).cast("long").as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("long").as("tf"))
      .localCheckpoint()
    val ctf = tf.groupBy("tok").agg(sum("tf").as("ctf"))
    val n = ctf.agg(sum(col("ctf"))).first().getLong(0)
    tf.join(ctf, Seq("tok"))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).cast("long").as("n_tokens"),
        sum(col("tf") * expr(s"CAST($n AS BIGINT) div ctf")).cast("long").as("rarity_sum"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("rarity_sum"),
        expr("(1000 * rarity_sum) div n_tokens").cast("long").as("rarity_milli"))
  }

  /** Winnowing document fingerprints (the MOSS local-fingerprinting
    * scheme, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every word
    * `k`-gram, slide a window of `w` consecutive gram hashes, and keep
    * each window's minimum — a ~1/w-density selection that GUARANTEES any
    * shared substring of >= k+w-1 words contributes at least one common
    * fingerprint to both docs, which is what makes it the standard
    * text-reuse / plagiarism probe (robust where whole-doc hashes and
    * random minhash sampling both miss short verbatim overlaps). Output
    * per doc (docs with >= k tokens): gram count, distinct-fingerprint
    * count, and the md5 digest of the sorted fingerprint set — join two
    * corpora's exploded fingerprints to get reuse candidates.
    *
    * Execution shape: one explode to (doc, pos, gram); the gram hash is a
    * row expression; the sliding min is a `ROWS BETWEEN CURRENT AND w-1
    * FOLLOWING` window partitioned by doc_id — uniform key, per-doc state
    * bounded by doc length — NOT an array higher-order fold over an
    * inline token expression (HOF lambdas evaluate interpreted and
    * re-split the text per element access, the [[ngrams]] trap). The
    * final per-doc agg rides the window's doc_id hash partitioning, so
    * the whole operator costs one shuffle plus the window sort.
    *
    * This is the exploded face: one (doc_id, n_grams, fp) row per
    * distinct selected fingerprint — what a cross-corpus reuse probe
    * equi-joins on. [[winnowFingerprints]] is the per-doc aggregate face.
    */
  def winnowFps(
      docs: DataFrame,
      k: Int = 3,
      w: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val grams = docs
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("tk"))
      .select(
        col("doc_id"),
        greatest(size(col("tk")) - (k - 1), lit(0)).as("__ng"),
        posexplode(ngrams(col("tk"), k)).as(Seq("pos", "gram")))
      .withColumn("h", expr("cast(conv(substring(md5(gram), 1, 12), 16, 10) as bigint)"))
    val win = Window
      .partitionBy("doc_id")
      .orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("fp", min("h").over(win))
      // fingerprints exist only at full-window starts (or window 0 when the
      // doc has fewer than w grams — then the single min-of-all survives)
      .filter(col("pos") <= greatest(col("__ng") - w, lit(0)))
      .select(col("doc_id"), col("__ng"), col("fp"))
      .distinct()
  }

  def winnowFingerprints(
      docs: DataFrame,
      k: Int = 3,
      w: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    winnowFps(docs, k, w, textCol, idCol)
      .groupBy("doc_id")
      .agg(
        max(col("__ng")).cast("long").as("n_grams"),
        count(lit(1)).cast("long").as("n_fps"),
        md5(concat_ws(
          ",",
          transform(array_sort(collect_list(col("fp"))), x => x.cast("string")))).as("fp_digest"))

  /** Maximal duplicated token SPANS: for each doc, the maximal runs of
    * consecutive token positions whose every word `n`-gram also appears in
    * at least one OTHER doc — the span-level exact-substring signal behind
    * "dedup the repeated passage, keep the rest" corpus policies (license
    * headers, quoted boilerplate, mirrored paragraphs), where whole-doc
    * dedup keeps both copies and drops neither. Emits `(doc_id,
    * span_start, span_end, span_tokens)` in 1-based token positions,
    * spans shorter than `minTokens` suppressed.
    *
    * Execution shape, all corpus-linear: tokenize once, explode positioned
    * `n`-grams into a posting table materialized exactly ONCE (the
    * [[graft.ops.Dedup.ngramJaccard]] discipline — both consumers below
    * read the checkpoint instead of re-tokenizing); duplicated grams are a
    * two-level aggregate (distinct (gram, doc) map-side, then per-gram doc
    * count >= 2) — never a self-join; marked positions come back via a
    * LEFT SEMI join on the gram; runs collapse with the classic
    * gaps-and-islands move (`pos - row_number()` per doc, then one
    * hash agg per island). Windows partition by doc_id only — no
    * single-partition stage. Grams travel as 16-byte md5 digests, never
    * as strings: the hash is computed where the gram is born (inside
    * [[gramPostings]]' projection) so the raw 5-word text never enters a
    * shuffle, an aggregate, or the persisted store — at 100 TB that is
    * ~5-10x fewer key bytes through every exchange. Span arithmetic is
    * hash-agnostic (positions only); a 128-bit digest makes a false
    * duplicate-mark a ~(distinct grams)^2 / 2^129 event — at 10^12
    * distinct grams that is ~1e-15, and the worst case is one span
    * over-marked, never a crash.
    */
  def dupSpans(
      docs: DataFrame,
      n: Int = 5,
      minTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"n must be positive (got $n)")
    require(minTokens >= n, s"minTokens ($minTokens) must be >= n ($n): shorter spans cannot exist")
    val pg = gramPostings(docs, n, textCol, idCol).localCheckpoint()
    spansFromMarked(pg.join(dupGrams(pg), Seq("gh"), "left_semi"), n, minTokens)
  }

  /** Gaps-and-islands tail shared by [[dupSpans]] and [[probeDupSpans]]:
    * collapse marked 0-based gram positions `(doc_id, pos)` into maximal
    * 1-based token spans, suppressing those under `minTokens`.
    */
  private def spansFromMarked(marked: DataFrame, n: Int, minTokens: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("pos").as("p0"), max("pos").as("p1"))
      .select(
        col("doc_id"),
        (col("p0") + 1).cast("long").as("span_start"),
        (col("p1") + n).cast("long").as("span_end"))
      .withColumn("span_tokens", (col("span_end") - col("span_start") + 1).cast("long"))
      .filter(col("span_tokens") >= minTokens)
  }

  /** Positioned-gram posting table `(doc_id, pos, gh)` for the span
    * operators: 0-based gram start positions over [[tokens]], docs shorter
    * than `n` dropped. `gh` is the 16-byte md5 digest of the gram text —
    * hashed HERE, in the projection that creates the gram, so the raw
    * string dies before the first exchange.
    */
  private def gramPostings(docs: DataFrame, n: Int, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), posexplode(ngrams(col("tk"), n)).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), unhex(md5(col("g"))).as("gh"))

  /** The duplication rule shared by the whole span family: gram digests
    * appearing in >= 2 distinct docs of `pg` — distinct (digest, doc) then
    * per-digest doc count, both map-side-combinable aggregates (a
    * boilerplate gram collapses to one row in the first, so it cannot
    * skew the second); never a self-join.
    */
  private def dupGrams(pg: DataFrame): DataFrame =
    pg.select("gh", "doc_id")
      .distinct()
      .groupBy("gh")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select("gh")

  /** Persist the corpus's word-`n`-gram posting index `(gh, doc_id)` —
    * the history side of incremental span-level dedup
    * ([[probeDupSpans]]). Same lifecycle contract as the
    * chunk/LSH/IVF/PQ stores: full rebuild REPLACES the index (stale
    * tombstones cleared), [[appendGramIndex]] grows it batch-wise,
    * [[graft.ops.Similarity.deleteFromIndex]] + [[compactGramIndex]]
    * retract and physically drop docs. Postings are distinct per
    * (digest, doc), so index size is bounded by corpus token volume, not
    * occurrence multiplicity — and each key is a FIXED 16 bytes (md5 of
    * the gram text, see [[gramPostings]]), so the store never pays raw
    * 5-word strings. Measured: on a high-entropy corpus (distinct-gram
    * regime, the web-scale shape) the hashed store is 2.2x smaller
    * (44.0 MB -> 19.8 MB) and the dedup pipeline shuffles 2.1x fewer
    * bytes (91.7 MB -> 43.1 MB); on the LOW-entropy sf0.1 fixture the
    * picture inverts on disk (3.42 MB -> 5.19 MB — parquet dictionary
    * encoding compresses the repetitive gram strings below 16 raw
    * bytes/key, while digests are incompressible), so the hash is a
    * scale bet, paid knowingly at toy vocabulary sizes. Full numbers in
    * SCALE.md.
    */
  def writeGramIndex(
      corpus: DataFrame,
      path: String,
      n: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    StoreLifecycle.clearTombstones(spark, path)
    gramPostings(corpus, n, textCol, idCol)
      .select(col("gh"), col("doc_id"))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/postings")
    Seq(n).toDF("n").coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  private def requireGramParams(spark: org.apache.spark.sql.SparkSession, path: String, n: Int): Unit = {
    val stored = spark.read.parquet(s"$path/params").select("n").head().getInt(0)
    require(stored == n, s"gram index at $path was built with n=$stored, caller passed n=$n")
  }

  /** Grow the gram index with a new batch (append-only; the batch's
    * postings become history for the NEXT probe round).
    */
  def appendGramIndex(
      batch: DataFrame,
      path: String,
      n: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    requireGramParams(batch.sparkSession, path, n)
    gramPostings(batch, n, textCol, idCol)
      .select(col("gh"), col("doc_id"))
      .distinct()
      .write.mode("append").parquet(s"$path/postings")
  }

  /** Incremental [[dupSpans]]: the batch's duplicated spans given the
    * persisted history, WITHOUT re-scanning history text. A batch gram is
    * duplicated iff it has a live posting from some OTHER doc in the
    * index OR appears in >= 2 distinct batch docs — exactly
    * `dupSpans(history UNION batch)` restricted to batch rows (in the
    * union a doc appears ONCE, so for any batch position, union-doc-count
    * >= 2 ⟺ a different doc — history or batch — holds the gram), so the
    * batch face and the full rebuild are contract-identical EVEN when a
    * batch re-inserts a doc_id the index already holds: the doc's own
    * stale postings are anti-joined away before the gram projection
    * rather than self-marking it whole. Tombstoned history docs stop
    * matching immediately (subtracted before the distinct-gram
    * projection); history reads touch only the gram and doc-id columns
    * of the posting store.
    */
  def probeDupSpans(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      n: Int = 5,
      minTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    requireGramParams(spark, path, n)
    require(minTokens >= n, s"minTokens ($minTokens) must be >= n ($n): shorter spans cannot exist")
    val pg = gramPostings(batch, n, textCol, idCol).localCheckpoint()
    // no full-row distinct on the store: duplicates (retried appends) are
    // absorbed by the g-only distinct below, and the tombstone anti-join
    // is duplicate-insensitive — one column-pruned pass, not two shuffles
    val hist = StoreLifecycle
      .minusTombstones(spark, path, spark.read.parquet(s"$path/postings"), "doc_id")
      // a re-inserted doc must not be marked by its OWN stale postings
      // (union-rebuild parity: the rebuild sees the doc once) — keyed on
      // the BATCH's ids, not the posting table's (a re-crawl shorter than
      // n tokens has no postings but must still retire its stale ones);
      // the batch id set is small relative to the store, so AQE
      // broadcasts it
      .join(batch.select(col(idCol).as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .select("gh")
      .distinct()
    val known = hist.union(dupGrams(pg)).distinct()
    spansFromMarked(pg.join(known, Seq("gh"), "left_semi"), n, minTokens)
  }

  /** Physically drop tombstoned docs' postings and clear the tombstones —
    * probe results unchanged by contract, same tmp-and-swap recipe as the
    * chunk/LSH/IVF/PQ compactions.
    */
  def compactGramIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    StoreLifecycle.compactIndexDir(spark, path, "postings", "doc_id")
    // as in every sibling compaction: tombstones are spent once their rows
    // are physically gone — a stale one would silently suppress a future
    // re-insert of the same doc id
    StoreLifecycle.clearTombstones(spark, path)
  }

  /** Streaming maintenance round for the gram index — the span-dedup
    * analog of [[graft.ops.Dedup.ingestLshBatch]], called per micro-batch
    * by [[graft.streaming.CorpusIngest.spanDedupIngest]]. Batch 0 (or an
    * absent store) CLAIMS/replaces the index (stale postings, docs, and
    * tombstones die); later batches require matching `n`. Each round:
    *
    *   1. probe: the batch's duplicated spans given strictly-earlier
    *      batches' postings (partition pruning on `batch_id` makes the
    *      exclusion free, so a retried batch never reads its own
    *      half-written postings back) plus in-batch duplication — the
    *      [[probeDupSpans]] rule;
    *   2. land the batch REWRITTEN (`docs/batch_id=N`: doc_id, text with
    *      duplicated spans excised, n_removed) — the excision policy of
    *      [[stripDupSpans]] applied at ingest time;
    *   3. grow history with the ORIGINAL text's postings
    *      (`postings/batch_id=N`), so a future re-crawl of the full
    *      document still matches even though the landed copy was
    *      stripped.
    *
    * Batch-id-keyed overwrites give exactly-once under retries; empty
    * batches return without consuming the batch-0 claim. Tombstone
    * deletes and [[compactGramIndex]] apply as for a batch-built index;
    * a stream store stays batch-keyed after compaction (one synthetic
    * `batch_id=-1` generation), so compaction is safe MID-stream.
    */
  def ingestGramBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      n: Int = 5,
      minTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // Claim BEFORE the empty check (StoreLifecycle's rule — content-free
    // params, so even an empty batch 0 wipes a previous run's store;
    // otherwise batch 1 would excise spans against the dead run's
    // postings).
    if (StoreLifecycle.claim(spark, path, batchId, Seq("postings", "docs")))
      Seq(n).toDF("n").coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    else requireGramParams(spark, path, n)
    if (batch.isEmpty) return // nothing to excise or land
    val pg = gramPostings(batch, n, textCol, idCol).localCheckpoint()
    val hist =
      if (StoreLifecycle.storeExists(spark, s"$path/postings")) {
        val raw = spark.read.parquet(s"$path/postings")
        // a batch-built ([[writeGramIndex]]) store is flat (no batch_id
        // dirs): all of it is strictly-earlier history. A stream store
        // stays batch-keyed even after compaction (synthetic batch_id=-1
        // generation, always < any real batch id).
        val earlier =
          if (raw.columns.contains("batch_id")) raw.filter(col("batch_id") < batchId) else raw
        StoreLifecycle
          .minusTombstones(spark, path, earlier, "doc_id")
          // the probeDupSpans rule verbatim: a later-batch re-crawl of a
          // doc_id must not be excised against its OWN earlier postings —
          // keyed on the batch's ids (a shorter-than-n re-crawl has no
          // postings of its own but still retires its stale ones)
          .join(batch.select(col(idCol).as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
          .select("gh")
          .distinct()
      } else Seq.empty[Array[Byte]].toDF("gh")
    val spans =
      spansFromMarked(pg.join(hist.union(dupGrams(pg)).distinct(), Seq("gh"), "left_semi"), n, minTokens)
    exciseWithSpans(batch, spans, textCol, idCol)
      .select(col("doc_id"), col("clean_text").as(textCol), col("n_removed"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/docs/batch_id=$batchId")
    pg.select(col("gh"), col("doc_id"))
      .distinct()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/postings/batch_id=$batchId")
  }

  /** Span-level benchmark DECONTAMINATION: the maximal token spans in
    * `corpus` docs whose every word `n`-gram also appears somewhere in
    * `benchmark` — the eval-leak signal at span granularity, where the
    * whole-doc contamination ratio ([[graft.ops.Corpus]]'s n-gram audit)
    * says "3% of grams overlap" but not WHERE; the spans are what a
    * targeted excision ([[stripDupSpans]]'s policy) or a manual review
    * actually needs. One-directional [[dupSpans]]: a corpus gram is
    * marked iff the benchmark holds it — corpus-internal duplication
    * deliberately does NOT mark (that's [[dupSpans]]' job).
    *
    * Scale shape: benchmark suites are corpus-tiny, so the distinct
    * benchmark gram set broadcasts and the corpus posting table never
    * shuffles for the mark (left-semi equi-join); the islands windows
    * partition by doc_id as ever.
    */
  def crossDupSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      minTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"n must be positive (got $n)")
    require(minTokens >= n, s"minTokens ($minTokens) must be >= n ($n): shorter spans cannot exist")
    val pg = gramPostings(corpus, n, textCol, idCol)
    val bg = gramPostings(benchmark, n, textCol, idCol).select("gh").distinct()
    spansFromMarked(pg.join(bg, Seq("gh"), "left_semi"), n, minTokens)
  }

  // ---- BPE merge learning (tokenizer induction) ----

  /** Learn the top `nMerges` BYTE-PAIR-ENCODING merges over the corpus —
    * the canonical LLM-tokenizer induction loop, run as `nMerges` rounds
    * of (pair-count aggregate → 1-row arg-max → vocabulary rewrite) over
    * the WORD-FREQUENCY table, never the corpus: after one tokenize +
    * count pass, every round touches only |vocabulary| rows, and the only
    * driver traffic is one (pair, count) row per round (the
    * [[graft.ops.Similarity.ivfCentroids]] literal-collect discipline —
    * round N's plan must not embed rounds 1..N-1, so the state
    * re-materializes per round). Returns one row per learned merge:
    * `(merge_rank, left_sym, right_sym, pair_count)`.
    *
    * Determinism/portability: words split to codepoint symbols plus a
    * terminal `</w>`; the symbol string is `·`-delimited and a merge is a
    * plain left-to-right non-overlapping string replace of `·l·r·` with
    * `·lr·` — identical semantics in Spark and DuckDB (the oracle unrolls
    * the rounds), at the cost of one documented deviation from the
    * classic regex-lookahead BPE: of two IMMEDIATELY adjacent occurrences
    * (`l r l r`), one pass merges the first only (the second merges next
    * round), because the occurrences share a delimiter. Arg-max ties
    * break on the pair string ascending. Words containing the delimiter
    * or angle brackets (which could forge the `</w>` marker) are excluded
    * up front, mirrored in the oracle.
    */
  def bpeMerges(
      docs: DataFrame,
      nMerges: Int = 10,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    bpeMergesBatched(docs, nMerges, batch = 1, textCol, idCol)

  /** [[bpeMerges]] with BATCHED rounds — the change that makes
    * tokenizer-scale induction (10³-10⁴ merges) feasible: instead of one
    * pair-count aggregate + one vocabulary rewrite PER MERGE (that many
    * sequential Spark jobs), each round counts once, greedily picks up to
    * `batch` NON-INTERACTING pairs from that one count table (in
    * count-desc/pair-asc order), and applies all of them in one
    * rewrite — `nMerges div batch` aggregate passes instead of
    * `nMerges`. The ban that makes same-round merges genuinely commute
    * covers each pick's INPUT symbols and its MERGED OUTPUT: a candidate
    * is skipped when either of its symbols OR its concatenation collides
    * with any earlier pick's symbols or concatenation — plain
    * symbol-disjointness is not enough, because a pick whose symbol
    * equals another pick's merged output (`a`,`b` vs `ab`,`x`) matches
    * occurrences the other replace CREATES, making the round
    * order-dependent. Under the full ban no replace can touch what
    * another produces or consumes, each preserves the boundary
    * delimiters the others match on, and the round result is
    * order-free; when additionally no pick's merge changes a later
    * pick's count, the batched result IS the sequential result (the
    * spec pins the classic fixture) — otherwise it is the standard
    * batched-BPE approximation every distributed trainer makes — ranks
    * within a round are claim order, counts are the round's shared
    * (pre-rewrite) table. `batch = 1` is exactly [[bpeMerges]]'
    * sequential loop. The greedy runs DRIVER-SIDE over ONE bounded
    * prefix collect per round (`4·batch` rows in count-desc/pair-asc
    * order): scanning that prefix in order and skipping banned
    * candidates picks exactly what `batch` sequential filtered arg-max
    * probes would — bans only REMOVE rows, so the filtered table's top-1
    * is always the first unbanned row in the global order — at one
    * aggregate + one collect per round instead of `batch` sequential
    * tiny jobs (64 driver round-trips per round at tokenizer batch
    * sizes, the round-15 tail). Only if the prefix exhausts before
    * `batch` picks (pathological ban overlap) does a re-probe re-filter
    * the checkpointed table and collect the next prefix; driver traffic
    * stays O(batch) rows per round.
    */
  def bpeMergesBatched(
      docs: DataFrame,
      nMerges: Int = 10,
      batch: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges >= 1, s"nMerges must be positive (got $nMerges)")
    require(batch >= 1 && batch <= 256, s"batch must be in [1, 256], got $batch")
    var words = bpeWordTable(docs, textCol).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val m = math.min(batch, nMerges - merges.size)
      val countsRaw = words
        // the symbol array is a NAMED attribute before element_at reads
        // it per pair — an inline filter(split(...)) producer would be
        // re-evaluated per element (the plan sweep's banned pattern)
        .select(col("freq"), filter(split(col("s"), "·"), x => x =!= "").as("syms"))
        .select(col("freq"), explode(symbolPairs(col("syms"))).as("pair"))
        .groupBy("pair")
        .agg(sum("freq").as("cnt"))
      // a rare prefix-exhaustion re-probe re-reads this table, so the
      // multi-pick path materializes it once; the m = 1 path keeps the
      // original single-pass plan byte-identical
      val counts = if (m > 1) countsRaw.localCheckpoint() else countsRaw
      val chosen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val banned = scala.collection.mutable.Set.empty[String]
      var open = true
      var prefixFrom = counts
      while (open && chosen.size < m) {
        // ONE bounded collect per round (prefix 4·m rows, driver-greedy
        // over it) — re-probing with the accumulated ban filter only on
        // exhaustion. The ban check mirrors the former per-pick filter:
        // a candidate is skipped when either symbol OR its concatenation
        // collides with any earlier pick's inputs or merged output.
        val prefix = prefixFrom.orderBy(col("cnt").desc, col("pair").asc).limit(4 * m).collect()
        if (prefix.isEmpty) open = false
        else {
          var i = 0
          while (i < prefix.length && chosen.size < m) {
            val (pair, cnt) = (prefix(i).getString(0), prefix(i).getLong(1))
            val Array(l, r) = pair.split(" ", 2)
            if (!banned(l) && !banned(r) && !banned(l + r)) {
              chosen += ((l, r, cnt))
              // the full non-interaction ban: the pick's inputs AND its
              // merged output — a later pair touching `l+r` (or producing
              // `l`/`r`) would match occurrences this replace creates or
              // consumes
              banned ++= Seq(l, r, l + r)
            }
            i += 1
          }
          if (chosen.size < m) {
            if (prefix.length < 4 * m) open = false // prefix WAS the whole table
            else {
              val b = banned.toSeq
              prefixFrom = counts.filter(
                !element_at(split(col("pair"), " "), 1).isin(b: _*) &&
                  !element_at(split(col("pair"), " "), 2).isin(b: _*) &&
                  !replace(col("pair"), lit(" "), lit("")).isin(b: _*))
            }
          }
        }
      }
      if (chosen.isEmpty) exhausted = true
      else {
        chosen.foreach { case (l, r, cnt) =>
          merges += (((merges.size + 1).toLong, l, r, cnt))
        }
        words = words
          .withColumn(
            "s",
            chosen.foldLeft(col("s")) { case (s, (l, r, _)) =>
              replace(s, lit(s"·${l}·${r}·"), lit(s"·${l}${r}·"))
            })
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** Apply a learned merge list ([[bpeMerges]] rows, rank order) and
    * count each doc's BPE tokens — the honest tokens-per-doc measure for
    * budget math once a tokenizer exists, vs the whitespace proxy of
    * [[tokenCounts]]. Merges apply as the same `·`-delimited replaces the
    * learner used. Up to `chunk` merges compose into ONE column program
    * per word (no per-merge pass; the list is a plan literal — the
    * original single-pass plan, byte-identical); a LONGER list — the
    * [[bpeMergesBatched]] tokenizer-scale case, 10³-10⁴ merges — would
    * otherwise build a 10³-deep expression tree that codegen cannot
    * compile, so it applies chunk-by-chunk with the symbol strings
    * materialized between chunks: `ceil(nMerges/chunk)` narrow passes
    * over the token grain, plan depth O(chunk) always. Excluded words
    * (delimiter/bracket carriers) count as 1 token each.
    */
  def bpeTokenCount(
      docs: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text",
      idCol: String = "doc_id",
      chunk: Int = 64): DataFrame = {
    require(chunk >= 1 && chunk <= 256, s"chunk must be in [1, 256], got $chunk")
    def rep(s: Column, m: (String, String)): Column =
      replace(s, lit(s"·${m._1}·${m._2}·"), lit(s"·${m._1}${m._2}·"))
    val counted =
      if (merges.size <= chunk) {
        val folded = merges.foldLeft(bpeSymbols(col("w")))(rep)
        docs
          .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("w"))
          .withColumn(
            "n",
            when(bpeEligible(col("w")), size(filter(split(folded, "·"), x => x =!= "")))
              .otherwise(lit(1))
              .cast("long"))
      } else {
        var cur = docs
          .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("w"))
          .select(
            col("doc_id"),
            bpeEligible(col("w")).as("el"),
            when(bpeEligible(col("w")), bpeSymbols(col("w"))).as("s"))
        merges.grouped(chunk).foreach { g =>
          cur = cur.withColumn("s", g.foldLeft(col("s"))(rep)).localCheckpoint()
        }
        cur.withColumn(
          "n",
          when(col("el"), size(filter(split(col("s"), "·"), x => x =!= "")))
            .otherwise(lit(1))
            .cast("long"))
      }
    counted
      .groupBy("doc_id")
      .agg(sum("n").as("n_bpe_tokens"))
  }

  /** Corpus word-frequency table with the `·`-delimited symbol string:
    * `(freq, s)` where `s = ·c·h·a·r·s·</w>·`.
    */
  private def bpeWordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(bpeEligible(col("w")))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))
      .select(col("freq"), bpeSymbols(col("w")).as("s"))

  private def bpeEligible(w: Column): Column =
    !w.contains("·") && !w.contains("<") && !w.contains(">")

  /** `·`-delimited symbol string of a word: codepoints plus `</w>`. */
  private def bpeSymbols(w: Column): Column =
    concat(
      lit("·"),
      concat_ws(
        "·",
        concat(
          transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))),
          array(lit("</w>")))),
      lit("·"))

  /** Adjacent symbol pairs of a NAMED symbol-array attribute, as
    * space-joined pair strings (symbols never contain spaces — words are
    * whitespace-split). A FULLY-merged word (one symbol — e.g. a one-char
    * word after its `(c, </w>)` merge won a round) has no pairs and must
    * yield an empty array, not a negative sequence bound (`sequence(0,
    * -1)` throws, and `element_at(_, 0)` is illegal in Spark).
    */
  private def symbolPairs(syms: Column): Column =
    when(
      size(syms) >= 2,
      transform(
        sequence(lit(0), size(syms) - 2),
        j => concat(element_at(syms, j + 1), lit(" "), element_at(syms, j + 2))))
      .otherwise(array().cast("array<string>"))

  /** The ACTION over [[crossDupSpans]]: rewrite every corpus doc with its
    * benchmark-contaminated spans excised — targeted eval
    * DECONTAMINATION, where dropping whole contaminated docs
    * ([[graft.ops.Corpus]]'s n-gram audit policy) would throw away the
    * 95% of each doc that never touched the benchmark. Same
    * whole-corpus/`n_removed` contract as [[stripDupSpans]]; corpus-
    * internal duplication deliberately does not excise (that is
    * [[stripDupSpans]]' job — run both for a full clean).
    *
    * Scale shape: [[crossDupSpans]]' broadcast semi-join (benchmark
    * suites are corpus-tiny) plus the indexed-lambda excision — the
    * corpus shuffles only the sparse span table, keyed by doc_id. The
    * streaming face ([[probeContamination]] over a persisted benchmark
    * gram index via [[graft.streaming.CorpusIngest.decontamIngest]])
    * applies the same policy at ingest time.
    */
  def stripContamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      minTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    exciseWithSpans(
      corpus,
      crossDupSpans(corpus, benchmark, n, minTokens, textCol, idCol),
      textCol,
      idCol)

  /** [[crossDupSpans]] against a PERSISTED benchmark gram index
    * ([[writeGramIndex]] over the eval suites — built once, probed by
    * every batch): the batch's benchmark-contaminated spans without
    * re-tokenizing the benchmark. One-directional like [[crossDupSpans]]
    * (batch-internal duplication does not mark, and the batch's own ids
    * are NOT anti-joined — the benchmark index is a different corpus, so
    * an id collision is meaningless); tombstoned benchmark docs (a
    * retired eval suite) stop marking immediately.
    */
  def probeContamination(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      n: Int = 5,
      minTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    requireGramParams(spark, path, n)
    require(minTokens >= n, s"minTokens ($minTokens) must be >= n ($n): shorter spans cannot exist")
    val pg = gramPostings(batch, n, textCol, idCol)
    val bg = StoreLifecycle
      .minusTombstones(spark, path, spark.read.parquet(s"$path/postings"), "doc_id")
      .select("gh")
      .distinct()
    spansFromMarked(pg.join(bg, Seq("gh"), "left_semi"), n, minTokens)
  }

  /** One micro-batch of streaming DECONTAMINATION (the foreachBatch body
    * of [[graft.streaming.CorpusIngest.decontamIngest]]): probe the
    * batch against the persisted benchmark gram index, land it REWRITTEN
    * (contaminated spans excised, per-doc `n_removed`) under
    * `outRoot/docs/batch_id=N` — batch-id-keyed overwrites for
    * exactly-once. Unlike [[ingestGramBatch]] the index is STATIC (the
    * benchmark, not the stream, owns it): batches never grow it, so
    * there is no claim protocol and no self-exclusion to manage.
    */
  def decontamBatch(
      batch: DataFrame,
      benchPath: String,
      outRoot: String,
      batchId: Long,
      n: Int = 5,
      minTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val spans = probeContamination(spark, benchPath, batch, n, minTokens, textCol, idCol)
    exciseWithSpans(batch, spans, textCol, idCol)
      .select(col("doc_id"), col("clean_text").as(textCol), col("n_removed"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outRoot/docs/batch_id=$batchId")
  }

  /** The ACTION over [[dupSpans]]: rewrite every doc with its duplicated
    * spans removed (all occurrences — the aggressive boilerplate-excision
    * policy; pair with a keep-one dedup upstream when one canonical copy
    * should survive). Returns `(doc_id, clean_text, n_removed)` for the
    * WHOLE corpus: untouched docs pass through with `n_removed = 0`, a
    * fully-duplicated doc collapses to an empty string (its drop is the
    * caller's policy call). `clean_text` is the kept tokens re-joined with
    * single spaces — tokenization is whitespace-normalizing, so
    * reconstruction is too.
    *
    * Scale shape: the span table from [[dupSpans]] is corpus-sparse (one
    * row per duplicated run, not per token); it folds to one array per
    * affected doc and joins back on doc_id, and the excision itself is a
    * pure indexed-lambda filter over the token array — no token-level
    * explode, no range join, nothing leaves the row.
    */
  def stripDupSpans(
      docs: DataFrame,
      n: Int = 5,
      minTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    exciseWithSpans(docs, dupSpans(docs, n, minTokens, textCol, idCol), textCol, idCol)

  /** The excision tail shared by [[stripDupSpans]] and [[ingestGramBatch]]:
    * rewrite every doc with the given `(doc_id, span_start, span_end)`
    * spans removed. Same whole-corpus/empty-string/`n_removed` contract as
    * [[stripDupSpans]].
    */
  private def exciseWithSpans(
      docs: DataFrame,
      spans: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val spanArr = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__sp"))
    docs
      .select(
        col(idCol).as("doc_id"),
        // a null text must land as clean_text = '' with n_removed = 0,
        // not propagate a null token array into null sizes downstream
        coalesce(tokens(col(textCol)), array().cast("array<string>")).as("tk"))
      .join(spanArr, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("tk"),
        // null __sp (untouched doc) must read as "no spans", not as a
        // null-propagating predicate that would drop every token
        coalesce(col("__sp"), array().cast("array<struct<span_start:long,span_end:long>>"))
          .as("sp"))
      .select(
        col("doc_id"),
        col("tk"),
        filter(
          col("tk"),
          (_, i) =>
            !exists(
              col("sp"),
              s => i + 1 >= s.getField("span_start") && i + 1 <= s.getField("span_end")))
          .as("kept"))
      .select(
        col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Text-reuse candidate pairs over winnowing fingerprints: docs sharing
    * >= `minShared` selected fingerprints — i.e. likely verbatim overlaps
    * of >= k+w-1 words, surfaced WITHOUT any pairwise text comparison.
    * The standard second stage is [[graft.ops.Dedup.editVerify]] on the
    * survivors.
    *
    * Scale shape: same inverted-index discipline as
    * [[graft.ops.Dedup.ngramJaccard]] — fingerprints appearing in more
    * than `dfCap` docs (boilerplate runs: licenses, navigation) are
    * dropped on both sides BEFORE the self-join, bounding candidate pairs
    * by Σ df² over surviving fingerprints; the df filter is an aggregate +
    * anti-join ([[graft.ops.Skew.capHotKeys]] — map-side partials absorb
    * the hot fingerprint a window count would serialize on one reducer),
    * and the surviving index is materialized once before feeding both
    * join sides.
    */
  def winnowReusePairs(
      docs: DataFrame,
      minShared: Long = 2,
      dfCap: Int = 20,
      k: Int = 3,
      w: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // the compact (doc_id, fp) posting table is materialized once so the
    // cap's two scans (partial-agg branch + anti-join left) do not rerun
    // winnowFps' window + distinct; the capped index is materialized again
    // before feeding both self-join sides
    val raw = winnowFps(docs, k, w, textCol, idCol)
      .select(col("doc_id"), col("fp"))
      .localCheckpoint()
    val fps = graft.ops.Skew.capHotKeys(raw, Seq("fp"), dfCap).localCheckpoint()
    fps
      .as("a")
      .join(fps.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Bigram language-model scoring — the conditional-probability upgrade
    * of [[unigramRarity]] and the closest oracle-stable stand-in for a
    * KenLM perplexity filter. The corpus itself is the model: each bigram
    * (w1, w2) scores `c1(w1) div c2(w1, w2)` — integer reciprocal of the
    * MLE conditional probability p(w2|w1) = c2/c1, where c1 counts bigrams
    * starting with w1 — so predictable continuations ("of the") score ~1
    * and surprising ones score high. `lm_sum` is the tf-weighted doc
    * total, `lm_milli` the per-bigram average ×1000 (the perplexity-like
    * quality signal: high = incoherent token salad, low = fluent). All
    * integer arithmetic for the same reason as [[unigramRarity]]: sums
    * are order-independent, so the score is hash-identical across engines
    * — a float log-prob sum would never oracle-match. Docs with fewer
    * than 2 tokens have no bigrams and drop out (score undefined).
    *
    * Execution shape: bigrams come from a per-row array zip (narrow — no
    * token explode followed by a window over position, which would
    * shuffle every token); the (doc, w1, w2) tf table is materialized
    * once and feeds both model aggregations (c2 keyed by the bigram, c1
    * by the prefix — each collapses hot bigrams map-side) and the score
    * join, which is equi-keyed and uniform. Nothing driver-side: the
    * model stays distributed, so a 100 TB corpus trains and scores in one
    * pass of three shuffles.
    */
  def bigramRarity(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // tokenize into a projected attribute first (the ngrams rule): the
    // slices below would otherwise each re-split the text per row
    val bgList = {
      val tk = col("__tk")
      when(
        size(tk) >= 2,
        zip_with(
          slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    }
    val tf = docs
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("__tk"))
      .select(col("doc_id"), explode(bgList).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).cast("long").as("tf"))
      .localCheckpoint()
    val c2 = tf.groupBy("w1", "w2").agg(sum("tf").as("c2"))
    val c1 = tf.groupBy("w1").agg(sum("tf").as("c1"))
    tf.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).cast("long").as("n_bigrams"),
        sum(col("tf") * expr("c1 div c2")).cast("long").as("lm_sum"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("lm_sum"),
        expr("(1000 * lm_sum) div n_bigrams").cast("long").as("lm_milli"))
  }

  /** Trigram stupid-backoff fluency scoring (the Brants et al. 2007
    * "stupid backoff" large-LM rule) against a REFERENCE corpus — the
    * cross-corpus upgrade of [[bigramRarity]]: train n-gram counts on a
    * trusted/high-quality reference, score every candidate document, and
    * docs whose trigrams the reference never saw fall through the backoff
    * ladder. Per trigram occurrence, in integer micro-units:
    *
    *   - trigram tier: `1000000·c123 div c12` when the reference saw the
    *     trigram (c12 = the reference count of its context bigram),
    *   - bigram tier:  `400000·c23 div c2` (the 0.4 backoff factor in
    *     micro), when only the closing bigram is known,
    *   - unigram tier: `160000·c3 div N` (0.4², N = reference tokens),
    *   - OOV tier: 0 — the closing token itself is unknown.
    *
    * Returns per doc (docs with ≥ 1 trigram — shorter docs have no
    * scoreable context, same contract as [[bigramRarity]]): total trigram
    * occurrences, per-tier occurrence counts (`n_tri`/`n_bi`/`n_uni`/
    * `n_oov` — the coverage profile is itself the quality signal), and
    * the mean score `sb_micro`. All-integer MLE ratios stand in for the
    * production float LM exactly as in [[bigramRarity]]/`fluencyGate` —
    * order-independent, hence oracle-hashable.
    *
    * Scale shape: the reference tokenizes ONCE into a projected array
    * (localCheckpoint'd tf table), then three narrow explodes feed
    * map-side-combinable count aggregates whose outputs are keyed by
    * n-grams — the hot-key profile of natural text partial-aggregates
    * before every shuffle. The doc side reduces to its per-(doc, trigram)
    * tf FIRST, so each ref-table join moves one row per distinct trigram
    * per doc, never the token stream; every join is an equi-join (AQE
    * broadcasts the ref tables when the reference is dictionary-sized).
    */
  def trigramBackoff(
      docs: DataFrame,
      reference: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val triStruct = {
      val tk = col("__tk")
      when(
        size(tk) >= 3,
        zip_with(
          zip_with(
            slice(tk, lit(1), size(tk) - 2),
            slice(tk, lit(2), size(tk) - 2),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          slice(tk, lit(3), size(tk) - 2),
          (p, c) => struct(p.getField("w1").as("w1"), p.getField("w2").as("w2"), c.as("w3"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))
    }
    val biStruct = {
      val tk = col("__tk")
      when(
        size(tk) >= 2,
        zip_with(
          slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    }
    // reference n-gram counts: tokenize once, three narrow explodes
    // (explode_outer over a PROJECTED array + null filter on the generated
    // attribute — the InferFiltersFromGenerate discipline)
    val refTk = reference
      .select(tokens(col(textCol)).as("__tk"))
      .localCheckpoint()
    val c3 = refTk
      .select(explode_outer(col("__tk")).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w").as("w3"))
      .agg(count(lit(1)).cast("long").as("c3"))
      .localCheckpoint() // 3 consumers (c2 rename, c3 join, nTok) — one explode, not three
    val nTok = c3.agg(sum("c3").cast("long").as("__n")) // Σ unigram counts == token count
    val bi = refTk
      .select(biStruct.as("__bg"))
      .select(explode_outer(col("__bg")).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy(col("bg.w1").as("b1"), col("bg.w2").as("b2"))
      .agg(count(lit(1)).cast("long").as("cb"))
      .localCheckpoint()
    val c123 = refTk
      .select(triStruct.as("__tg"))
      .select(explode_outer(col("__tg")).as("tg"))
      .filter(col("tg").isNotNull)
      .groupBy(col("tg.w1").as("w1"), col("tg.w2").as("w2"), col("tg.w3").as("w3"))
      .agg(count(lit(1)).cast("long").as("c123"))
    // doc side: per-(doc, trigram) tf BEFORE any ref join
    val tf = docs
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("__tk"))
      .select(col("doc_id"), triStruct.as("__tg"))
      .select(col("doc_id"), explode_outer(col("__tg")).as("tg"))
      .filter(col("tg").isNotNull)
      .groupBy(col("doc_id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"), col("tg.w3").as("w3"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val scored = tf
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(
        bi.select(col("b1").as("w1"), col("b2").as("w2"), col("cb").as("c12")),
        Seq("w1", "w2"),
        "left")
      .join(
        bi.select(col("b1").as("w2"), col("b2").as("w3"), col("cb").as("c23")),
        Seq("w2", "w3"),
        "left")
      .join(c3.select(col("w3").as("w2"), col("c3").as("c2")), Seq("w2"), "left")
      .join(c3, Seq("w3"), "left")
      .crossJoin(broadcast(nTok))
      .withColumn(
        "s_micro",
        when(col("c123").isNotNull, expr("1000000 * c123 div c12"))
          .when(col("c23").isNotNull, expr("400000 * c23 div c2"))
          .when(col("c3").isNotNull, expr("160000 * c3 div __n"))
          .otherwise(lit(0L))
          .cast("long"))
      .withColumn(
        "tier",
        when(col("c123").isNotNull, lit(3))
          .when(col("c23").isNotNull, lit(2))
          .when(col("c3").isNotNull, lit(1))
          .otherwise(lit(0)))
    scored
      .groupBy("doc_id")
      .agg(
        sum("tf").cast("long").as("n_trigrams"),
        sum(when(col("tier") === 3, col("tf")).otherwise(0L)).cast("long").as("n_tri"),
        sum(when(col("tier") === 2, col("tf")).otherwise(0L)).cast("long").as("n_bi"),
        sum(when(col("tier") === 1, col("tf")).otherwise(0L)).cast("long").as("n_uni"),
        sum(when(col("tier") === 0, col("tf")).otherwise(0L)).cast("long").as("n_oov"),
        sum(col("tf") * col("s_micro")).cast("long").as("sb_sum"))
      .select(
        col("doc_id"),
        col("n_trigrams"),
        col("n_tri"),
        col("n_bi"),
        col("n_uni"),
        col("n_oov"),
        expr("sb_sum div n_trigrams").cast("long").as("sb_micro"))
  }

  /** Corpus vocabulary with document frequency: one row per distinct token
    * with its df (docs containing it) and tf (total occurrences), filtered
    * to `df >= minDf` — the vocabulary-build step of any tokenizer/featurizer
    * training pass. One explode + one hash aggregation keyed by token;
    * count(DISTINCT doc_id) expands to a (token, doc_id) partial aggregate
    * first, so even a token appearing in every document aggregates
    * tree-wise instead of funneling raw rows to one reducer.
    */
  def vocabulary(
      docs: DataFrame,
      minDf: Long = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(
        countDistinct(col("doc_id")).cast("long").as("df"),
        count(lit(1)).cast("long").as("tf"))
      .filter(col("df") >= minDf)

  /** RAG / retrieval-style document chunking: fixed token windows of
    * `window` tokens advancing by `stride` (overlap = window - stride),
    * one output row per chunk with its ordinal, token span, text, and an
    * md5 content digest for downstream chunk-level dedup. The final
    * partial window is kept (standard chunker behavior — dropping it
    * loses document tails); empty documents yield no rows.
    *
    * Scale shape: chunk starts come from a per-row `sequence` +
    * `posexplode` — a narrow per-document expansion of ~n_tokens/stride
    * rows, no shuffle at all. The output carries everything a chunk
    * store needs, so the common pipeline (chunk → embed → index) reads
    * it as one pass.
    */
  def chunkTokens(
      docs: DataFrame,
      window: Int = 32,
      stride: Int = 24,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val withTk = docs
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .filter(col("n") > 0)
    withTk
      .select(
        col("doc_id"),
        col("n"),
        col("tk"),
        posexplode(
          sequence(lit(0L), expr(s"((n - 1) div $stride) * $stride"), lit(stride.toLong)))
          .as(Seq("chunk_id", "start")))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        (col("start") + 1L).as("tok_start"),
        least(col("start") + window, col("n")).as("tok_end"),
        concat_ws(" ", slice(col("tk"), col("start").cast("int") + 1, lit(window))).as("chunk_text"))
      .withColumn("n_tokens", (col("tok_end") - col("tok_start") + 1L).cast("long"))
      .withColumn("chunk_md5", md5(col("chunk_text")))
      .select("doc_id", "chunk_id", "tok_start", "tok_end", "n_tokens", "chunk_text", "chunk_md5")
  }

  /** Content-defined chunking: a token ENDS a chunk when the first byte
    * of its md5 is ≡ 0 (mod `divisor`) — boundaries are decided by
    * content, not position, so inserting or deleting a sentence re-chunks
    * only the neighborhood of the edit and every later chunk keeps its
    * identity (fingerprint). That shift-resistance is what fixed-stride
    * [[chunkTokens]] cannot give (one leading insertion shifts EVERY
    * downstream window) and is why storage dedup systems chunk this way;
    * here it powers chunk-level dedup across re-crawled/edited documents.
    * Expected chunk length = `divisor` tokens (geometric; no min/max
    * clamp — the tail is documented, not hidden). The last token always
    * closes the final chunk; empty documents yield no rows.
    *
    * Scale shape: boundary detection and chunk assembly are per-row
    * higher-order functions — a narrow projection + one posexplode of
    * ~n/divisor rows per doc, no shuffle at all. The boundary pass binds
    * each token as a LAMBDA ELEMENT (`zip_with(tk, positions, ...)`) —
    * never `element_at(tk, i)` from inside a lambda: `posexplode` makes
    * the optimizer infer a `size(ends) > 0` filter and push it below the
    * projections, substituting the full `ends` expression, and an outer
    * `tk` reference there inlines the tokenizer PER ELEMENT — measured
    * O(n²) re-splitting that cost 1.8x this whole operator at sf0.1.
    * Element-bound lambdas keep that inferred filter a per-ROW re-eval.
    */
  def chunkContentDefined(
      docs: DataFrame,
      divisor: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // the boundary test sees only the first md5 BYTE (0..255), so the
    // advertised 1/divisor boundary rate holds exactly iff divisor
    // divides 256 — any other value silently mis-sizes chunks
    require(
      divisor > 0 && divisor <= 256 && 256 % divisor == 0,
      s"divisor must divide 256 (a power of two <= 256), got $divisor")
    // first md5 byte as an int — the same arithmetic the DuckDB oracle
    // writes with strpos; both engines see 0..255
    def isBoundary(t: Column): Column =
      conv(substring(md5(t), 1, 2), 16, 10).cast("int") % divisor === 0
    val withTk = docs
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") > 0)
    withTk
      // boundary positions via element-BOUND lambdas only (see Scaladoc)
      .withColumn(
        "ends",
        filter(
          zip_with(
            col("tk"),
            sequence(lit(1), col("n")),
            (t, i) => when(isBoundary(t) || i === col("n"), i)),
          e => e.isNotNull))
      .select(
        col("doc_id"),
        col("tk"),
        col("ends"),
        posexplode(col("ends")).as(Seq("chunk_id", "tok_end")))
      .withColumn(
        "tok_start",
        when(col("chunk_id") === 0, lit(1))
          .otherwise(element_at(col("ends"), col("chunk_id")) + 1))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("tok_start").cast("long").as("tok_start"),
        col("tok_end").cast("long").as("tok_end"),
        (col("tok_end") - col("tok_start") + 1).cast("long").as("n_tokens"),
        md5(concat_ws(
          " ",
          slice(col("tk"), col("tok_start"), col("tok_end") - col("tok_start") + 1)))
          .as("chunk_md5"))
  }

  /** Corpus-level boilerplate removal (the CCNet/RefinedWeb move): a line
    * is boilerplate when it occurs in more than `maxDocs` distinct
    * documents — cookie banners, footers, "enable javascript" notices —
    * regardless of its content. Returns the per-doc audit face: line
    * counts before/after and a digest of the kept text in original line
    * order. Complements [[cleanLines]], which judges each line in
    * isolation; this one needs the corpus.
    *
    * Scale shape: lines explode once, then document frequency is a
    * two-level hash aggregation — distinct (line_fp, doc) pairs first
    * (map-side partials collapse a hot line to one row per doc before the
    * shuffle), then a count per line_fp. The df table joins back on
    * line_fp — an equi-join AQE can skew-split, deliberately NOT a
    * `count() over (partition by line_fp)` window, which would funnel
    * every posting of a hot boilerplate line to one reducer (this repo's
    * standing discipline; see paragraphDedup).
    */
  def boilerplateLines(
      docs: DataFrame,
      maxDocs: Long = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val lines = docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        posexplode(filter(split(col(textCol), "\r?\n"), l => trim(l) =!= ""))
          .as(Seq("line_no", "line")))
      .withColumn("line_fp", md5(trim(col("line"))))
      // two consumers (the df aggregation and the join-back side) — without
      // this boundary the line explode re-evaluates per consumer (same
      // discipline as paragraphDedup)
      .localCheckpoint()
    val df = lines
      .select("line_fp", "doc_id")
      .distinct()
      .groupBy("line_fp")
      .agg(count(lit(1)).cast("long").as("line_df"))
    lines
      .join(df, Seq("line_fp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("line_df") <= maxDocs, 1L).otherwise(0L)).cast("long").as("n_kept"),
        md5(
          concat_ws(
            "\n",
            transform(
              array_sort(
                collect_list(
                  when(col("line_df") <= maxDocs, struct(col("line_no"), col("line"))))),
              s => s.getField("line")))).as("kept_md5"))
  }

  /** Chunk-level containment dedup: documents sharing at least `minShared`
    * identical chunks ([[chunkTokens]] windows, matched by content md5) —
    * the partial-overlap detector that document-level exact/minhash dedup
    * misses (a doc quoting half of another, a page re-publishing one
    * section, concatenated shards). One row per (doc_a < doc_b) pair with
    * the shared-chunk count.
    *
    * Scale shape: chunk fingerprints are the posting key of a self-join,
    * so the degenerate key (a boilerplate chunk appearing in thousands of
    * docs) is capped FIRST via [[Skew.capHotKeys]] — agg + broadcast
    * anti-join, AQE-skew-splittable, never a window (the repo's standing
    * hot-key discipline) — and the capped posting table is materialized
    * once for both join sides. Pair volume is then bounded by
    * Σ postings² per surviving fingerprint ≤ maxPostings² per key.
    */
  def chunkOverlapPairs(
      docs: DataFrame,
      minShared: Long = 2,
      maxPostings: Long = 50,
      window: Int = 32,
      stride: Int = 24,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val postings = Skew
      .capHotKeys(
        chunkTokens(docs, window, stride, textCol, idCol)
          .select(col("chunk_md5"), col("doc_id"))
          // a doc repeating its own chunk must post once, or the pair
          // count double-counts the same shared content
          .distinct(),
        Seq("chunk_md5"),
        maxPostings)
      .localCheckpoint()
    postings
      .join(
        postings.select(col("chunk_md5"), col("doc_id").as("doc_b")),
        Seq("chunk_md5"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Containment drop-list: the dedup ACTION over [[chunkOverlapPairs]].
    * A document is dropped when some other document shares at least
    * `minContainMilli`/1000 of its distinct chunks — the side of a pair
    * with fewer chunks is the contained one (tie: the larger doc_id, so
    * the earlier id survives, matching the repo's keep-first convention).
    * One row per dropped doc with its best container under a
    * deterministic total order (highest containment, then most shared
    * chunks, then smallest container id) so the result is
    * oracle-hashable.
    *
    * The containment denominator is the doc's UNCAPPED distinct-chunk
    * count while shared counts come from the capped pair generator, so
    * overlap consisting purely of corpus-wide boilerplate chunks never
    * reaches the threshold by itself (conservative by construction;
    * [[boilerplateLines]] is the remedy for that content). A doc
    * contained in several others is dropped once; a container that is
    * itself dropped still drops its containees — content survives
    * transitively through the containment chain, the standard keep-list
    * convention (same stance as `Dedup.keepBest`).
    *
    * Scale shape: one extra hash agg for per-doc chunk counts, two
    * equi-joins of the (already pair-bounded) overlap table against it,
    * and a max(struct) agg per dropped doc for the best container —
    * never a window. Integer milli arithmetic (`div`) keeps the
    * containment decision FP-free.
    */
  def containmentDrops(
      docs: DataFrame,
      minContainMilli: Long = 800,
      maxPostings: Long = 50,
      window: Int = 32,
      stride: Int = 24,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val counts = chunkTokens(docs, window, stride, textCol, idCol)
      .select(col("doc_id"), col("chunk_md5"))
      .distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_chunks"))
    chunkOverlapPairs(docs, 1L, maxPostings, window, stride, textCol, idCol)
      .join(counts.select(col("doc_id").as("doc_a"), col("n_chunks").as("ca")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_chunks").as("cb")), "doc_b")
      .select(
        when(col("ca") < col("cb"), col("doc_a"))
          .when(col("cb") < col("ca"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("doc_id"),
        when(col("ca") < col("cb"), col("doc_b"))
          .when(col("cb") < col("ca"), col("doc_a"))
          .otherwise(least(col("doc_a"), col("doc_b"))).as("container"),
        col("n_shared"),
        expr("(n_shared * 1000) div least(ca, cb)").cast("long").as("contain_milli"))
      .filter(col("contain_milli") >= minContainMilli)
      .groupBy("doc_id")
      .agg(
        max(struct(
          col("contain_milli"),
          col("n_shared"),
          (-col("container")).as("neg_container"))).as("best"))
      .select(
        col("doc_id"),
        (-col("best.neg_container")).cast("long").as("container"),
        col("best.contain_milli").cast("long").as("contain_milli"),
        col("best.n_shared").cast("long").as("n_shared"))
  }

  /** Persist the chunk-posting table — the containment family's
    * build-once/probe-many lifecycle, the incremental companion of
    * [[chunkOverlapPairs]] exactly as `Dedup.writeLshIndex` is to
    * `crossMinHashLsh`: the 100 TB corpus pays its chunking pass ONCE
    * per snapshot, and every future ingest round probes against the
    * store instead of re-chunking history. Postings are stored UNCAPPED
    * (the hot-fingerprint cap is corpus-global, so it is applied at
    * probe time over the whole store — one aggregation, map-side
    * partials); the index therefore grows by plain appends and never
    * rewrites history.
    */
  def writeChunkIndex(
      corpus: DataFrame,
      path: String,
      window: Int = 32,
      stride: Int = 24,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // full rebuild replaces the index: stale tombstones must not subtract
    StoreLifecycle.clearTombstones(spark, path)
    chunkTokens(corpus, window, stride, textCol, idCol)
      .select(col("chunk_md5"), col("doc_id"))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/postings")
    Seq((window, stride))
      .toDF("window", "stride")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Grow the chunk index with a new batch (probe first, keep what
    * survives, then append so the NEXT round sees it — same protocol as
    * `Dedup.appendLshIndex`).
    */
  def appendChunkIndex(
      batch: DataFrame,
      path: String,
      window: Int = 32,
      stride: Int = 24,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    requireChunkParams(batch.sparkSession, path, window, stride)
    chunkTokens(batch, window, stride, textCol, idCol)
      .select(col("chunk_md5"), col("doc_id"))
      .distinct()
      .write.mode("append").parquet(s"$path/postings")
  }

  /** Probe a new batch against the persisted chunk index: is each new
    * doc CONTAINED in something the corpus already holds? One-directional
    * [[containmentDrops]] semantics — the denominator is the PROBE doc's
    * own (uncapped) chunk count, the numerator its capped-store matches —
    * because the ingest question is "is this new doc redundant given
    * history", not which of the two is smaller. Self-matches are
    * excluded BY ID so re-probing an already-appended batch is
    * meaningful — which assumes stable doc identity: a re-crawl that
    * changes a doc's content under the SAME id will not be compared
    * against its own older version (use fresh ids per crawl round, as
    * the ingest pipeline does, if that comparison matters).
    * Returns one row per contained probe doc with its best container
    * (same deterministic tiebreak as containmentDrops).
    */
  def probeChunkIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      probe: DataFrame,
      minContainMilli: Long = 800,
      maxPostings: Long = 50,
      window: Int = 32,
      stride: Int = 24,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    requireChunkParams(spark, path, window, stride)
    // distinct BEFORE the cap: appendChunkIndex is a plain parquet append,
    // so a retried ingest (or a partially-committed write re-run) can land
    // the same (chunk_md5, doc_id) posting twice — duplicates would both
    // double-count n_shared (inflating contain_milli past its true value)
    // and miscount the hot-chunk cap.
    // tombstones subtract BEFORE the hot-chunk cap (same ordering as
    // Dedup.probeLshIndex): a retracted container must neither surface
    // as a match nor inflate a chunk's posting count toward the cap
    val store = Skew.capHotKeys(
      StoreLifecycle.minusTombstones(
        spark, path, spark.read.parquet(s"$path/postings").distinct(), "doc_id"),
      Seq("chunk_md5"),
      maxPostings)
    val pp = chunkTokens(probe, window, stride, textCol, idCol)
      .select(col("chunk_md5"), col("doc_id"))
      .distinct()
      .localCheckpoint()
    val counts = pp.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_chunks"))
    pp.join(store.select(col("chunk_md5"), col("doc_id").as("container")), Seq("chunk_md5"))
      .filter(col("doc_id") =!= col("container"))
      .groupBy("doc_id", "container")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .join(counts, Seq("doc_id"))
      .withColumn("contain_milli", expr("(n_shared * 1000) div n_chunks").cast("long"))
      .filter(col("contain_milli") >= minContainMilli)
      .groupBy("doc_id")
      .agg(
        max(struct(
          col("contain_milli"),
          col("n_shared"),
          (-col("container")).as("neg_container"))).as("best"))
      .select(
        col("doc_id"),
        (-col("best.neg_container")).cast("long").as("container"),
        col("best.contain_milli").cast("long").as("contain_milli"),
        col("best.n_shared").cast("long").as("n_shared"))
  }

  /** Compact the persisted chunk index: physically drop tombstoned
    * containers ([[graft.ops.Similarity.deleteFromIndex]] with
    * `idCol = "doc_id"` against this path) from the posting table, fold
    * any [[appendChunkIndex]] generations into one file set, and clear
    * the tombstones — probe results unchanged by contract, same
    * tmp-and-swap recipe as the IVF/PQ/LSH compactions. Completes the
    * build / append / delete / compact lifecycle for the last persisted
    * index kind that lacked it.
    */
  def compactChunkIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    StoreLifecycle.compactIndexDir(spark, path, "postings", "doc_id")
    StoreLifecycle.clearTombstones(spark, path)
  }

  /** Validate caller parameters against the index's persisted `params`
    * row — chunks cut at a different window/stride never align, so a
    * mismatch silently reports zero overlap.
    */
  private def requireChunkParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      window: Int,
      stride: Int): Unit = {
    val p = spark.read.parquet(s"$path/params").collect().head
    val stored = (p.getInt(0), p.getInt(1))
    require(
      stored == ((window, stride)),
      s"chunk index at $path was built with (window, stride) = $stored, " +
        s"caller passed ($window, $stride)")
  }

  /** Deterministic weight for a hash bucket: an integer in [-1000, 1000]
    * derived from the bucket id by a Knuth multiplicative mix. Stands in
    * for trained linear-classifier weights while keeping the scorer
    * exactly reproducible across engines (a real model would broadcast
    * its weight table and join it here instead).
    */
  private[ops] def bucketWeight(bucket: Column): Column =
    (bucket * 2654435761L) % 2001L - 1000L

  /** Linear quality classifier over hashed features — the fasttext-shaped
    * model-based filter of pretraining pipelines (score = w · tf-vector,
    * keep when above threshold), with the same hashing-trick buckets as
    * [[hashingVectors]] so the two share one feature space. All-integer
    * (`score_milli` = Σ tf(b)·w(b)), so the result is exact and
    * oracle-hashable; swap [[bucketWeight]] for a broadcast-joined weight
    * table to serve a genuinely trained model with the identical plan.
    *
    * Scale shape: one explode + one (doc, bucket) hash aggregation + one
    * per-doc sum — uniform keys, map-side partials, no vocabulary or
    * driver state, same envelope as [[hashingVectors]].
    */
  def linearScore(
      docs: DataFrame,
      nFeatures: Int = 1024,
      threshold: Long = 0L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(nFeatures > 0, "nFeatures must be positive")
    val d = (i: Int) => expr(s"locate(substring(md5(tok), $i, 1), '0123456789abcdef')") - 1
    val bucket = ((d(1) * 256 + d(2) * 16 + d(3)) % nFeatures).cast("long")
    docs
      .select(col(idCol).cast("long").as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), bucket.as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).cast("long").as("tf"))
      .groupBy("doc_id")
      .agg(
        sum("tf").cast("long").as("n_tokens"),
        sum(col("tf") * bucketWeight(col("bucket"))).cast("long").as("score_milli"))
      .withColumn("keep", (col("score_milli") > threshold).cast("boolean"))
  }
}
