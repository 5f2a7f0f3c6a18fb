package graft

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exact set-similarity join (prefix filtering): hand-checked pairs plus a
  * randomized brute-force equivalence over the filter's whole parameter
  * cross — the property that prefix filtering is LOSSLESS is the operator's
  * contract, so it is pinned here against an implementation that has no
  * filter at all.
  */
class SetJoinSpec extends SparkSpec {

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Brute force: all pairs, distinct n-gram sets, integer-exact keep test. */
  private def brute(docs: DataFrame, tm: Int, n: Int): Set[(Long, Long, Long)] = {
    val grams = docs
      .select(col("doc_id").cast("long").as("id"), graft.ops.TextAnalysis.tokens(col("text")).as("tks"))
      .filter(size(col("tks")) >= n)
      .select(
        col("id"),
        array_distinct(
          transform(
            sequence(lit(0), size(col("tks")) - n),
            i => concat_ws(" ", (0 until n).map(j => element_at(col("tks"), i + j + 1)): _*)))
          .as("g"))
    grams
      .as("a")
      .join(grams.as("b"), col("a.id") < col("b.id"))
      .select(
        col("a.id").as("doc_a"),
        col("b.id").as("doc_b"),
        size(array_intersect(col("a.g"), col("b.g"))).cast("long").as("inter"),
        size(col("a.g")).cast("long").as("na"),
        size(col("b.g")).cast("long").as("nb"))
      .filter(lit(1000L) * col("inter") >= lit(tm.toLong) * (col("na") + col("nb") - col("inter")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
  }

  private def run(docs: DataFrame, tm: Int, n: Int): Set[(Long, Long, Long)] =
    Dedup
      .setSimilarityJoin(docs, thresholdMilli = tm, n = n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("near-dup pair found with exact jaccard; unrelated pair excluded") {
    val docs = df(
      Seq(
        1L -> "the quick brown fox jumps over the lazy dog today",
        2L -> "the quick brown fox jumps over the lazy dog tonight",
        3L -> "completely different text about spark physical planning"))
    val out = Dedup.setSimilarityJoin(docs, thresholdMilli = 500, n = 3).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    // 10 tokens -> 8 trigrams each; only the final trigram ("lazy dog
    // today|tonight") differs: inter = 7, union = 9
    assert(r.getLong(2) === 7L)
    assert(r.getDouble(3) === math.round(7.0 / 9.0 * 10000) / 10000.0)
  }

  test("threshold 1000 keeps only exact set-duplicates") {
    val docs = df(
      Seq(
        1L -> "alpha beta gamma delta epsilon",
        2L -> "alpha beta gamma delta epsilon",
        3L -> "alpha beta gamma delta zeta"))
    val out = run(docs, 1000, 3)
    assert(out === Set((1L, 2L, 3L)))
  }

  test("docs shorter than the shingle width never pair") {
    val docs = df(Seq(1L -> "one two", 2L -> "one two", 3L -> "one two three four"))
    assert(run(docs, 500, 3).isEmpty)
    // but they do as unigram sets
    assert(run(docs, 1000, 1).contains((1L, 2L, 2L)))
  }

  test("tokenEditJoin: sub/insert/delete found, distance-2 shared-signature pairs rejected") {
    val docs = df(
      Seq(
        1L -> "alpha beta gamma delta",
        2L -> "alpha beta GAMMA delta", // case-folds to an exact dup (ed 0)
        3L -> "alpha beta zeta delta", // one substitution
        4L -> "alpha beta delta", // one deletion
        5L -> "alpha beta gamma epsilon delta", // one insertion
        // shares the drop-signature "alpha beta delta"-ish path with 3 via
        // different drops but is distance 2 from it
        6L -> "alpha beta zeta eta delta epsilon",
        7L -> "completely unrelated text here"))
    val got = Dedup
      .tokenEditJoin(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got.get((1L, 2L)) === Some(0L))
    assert(got.get((1L, 3L)) === Some(1L))
    assert(got.get((1L, 4L)) === Some(1L))
    assert(got.get((1L, 5L)) === Some(1L))
    assert(got.get((2L, 3L)) === Some(1L))
    // 4 vs 3: "alpha beta delta" vs "alpha beta zeta delta" = one insertion
    assert(got.get((3L, 4L)) === Some(1L))
    // distance-2 pairs must NOT appear even where signatures collide
    assert(!got.contains((4L, 5L))) // deletion + insertion apart
    assert(!got.keys.exists(k => k._1 == 7L || k._2 == 7L))
  }

  test("tokenEditJoin equals brute-force token edit <= 1 on a random corpus") {
    val vocab = Vector("a", "b", "c", "d")
    val rnd = new scala.util.Random(11)
    val base = Vector.fill(8)(Vector.fill(6 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size))))
    // derive mutants: substitutions, deletions, insertions, double edits
    val rows = base.zipWithIndex.flatMap { case (t, i) =>
      val id = i * 10L
      val sub = t.updated(rnd.nextInt(t.size), vocab(rnd.nextInt(vocab.size)))
      val del = t.patch(rnd.nextInt(t.size), Nil, 1)
      val ins = t.patch(rnd.nextInt(t.size), Seq(vocab(rnd.nextInt(vocab.size))), 0)
      val dbl = sub.patch(rnd.nextInt(sub.size), Nil, 1)
      Seq(
        id -> t.mkString(" "),
        (id + 1) -> sub.mkString(" "),
        (id + 2) -> del.mkString(" "),
        (id + 3) -> ins.mkString(" "),
        (id + 4) -> dbl.mkString(" "))
    }
    def tokEd(a: Seq[String], b: Seq[String]): Int = {
      val d = Array.tabulate(a.size + 1, b.size + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.size; j <- 1 to b.size)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.size)(b.size)
    }
    val toks = rows.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val want = (for {
      x <- rows.map(_._1); y <- rows.map(_._1) if x < y
      e = tokEd(toks(x), toks(y)) if e <= 1
    } yield (x, y) -> e.toLong).toMap
    val got = Dedup
      .tokenEditJoin(df(rows))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got === want)
  }

  test("prefix filter is lossless: equals brute force across thresholds and widths") {
    // deterministic pseudo-random corpus over a tiny vocabulary so near-dup,
    // partial-overlap, and disjoint pairs all occur
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val rnd = new scala.util.Random(42)
    val rows = (1L to 40L).map { i =>
      val len = 4 + rnd.nextInt(12)
      val base = Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
      val text =
        if (i % 4 == 0) (base :+ vocab(rnd.nextInt(vocab.size))).mkString(" ")
        else base.mkString(" ")
      i -> text
    }
    val docs = df(rows).localCheckpoint()
    for (tm <- Seq(300, 500, 800, 1000); n <- Seq(1, 2, 3)) {
      val expected = brute(docs, tm, n)
      val got = run(docs, tm, n)
      assert(got === expected, s"mismatch at thresholdMilli=$tm n=$n")
    }
  }

  test("set-join index lifecycle: probe == union batch join's batch slice; tombstones; re-insert") {
    val dir = java.nio.file.Files.createTempDirectory("setjoinidx").toString
    val hist = df(Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "completely different text about spark physical planning here",
      3L -> "alpha beta gamma delta epsilon zeta eta theta"))
    val batch = df(Seq(
      // near-dup of history doc 1 and of batch doc 12 (cross + in-batch)
      11L -> "the quick brown fox jumps over the lazy dog tonight",
      12L -> "the quick brown fox jumps over the lazy dog forever",
      // unrelated
      13L -> "nothing shares any trigram with anything indexed at all"))
    Dedup.writeSetJoinIndex(hist, dir, thresholdMilli = 500)
    // the contract: probe == setSimilarityJoin(hist ∪ batch) restricted to
    // pairs touching the batch
    def slice(all: Set[(Long, Long, Long)]) = all.filter(p => p._1 >= 11L || p._2 >= 11L)
    val want = slice(run(hist.unionAll(batch), 500, 3))
    val got = Dedup.probeSetJoinIndex(spark, dir, batch, thresholdMilli = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want && got.exists(p => p._1 === 1L) && got.exists(p => p._1 === 11L && p._2 === 12L))
    // geometry mismatch refuses
    val err = intercept[IllegalArgumentException](
      Dedup.probeSetJoinIndex(spark, dir, batch, thresholdMilli = 800))
    assert(err.getMessage.contains("was built with"))
    // append grows history: batch docs indexed, a later probe pairs with them
    Dedup.appendSetJoinIndex(batch, dir, thresholdMilli = 500)
    val batch2 = df(Seq(21L -> "the quick brown fox jumps over the lazy dog forever"))
    val got2 = Dedup.probeSetJoinIndex(spark, dir, batch2, thresholdMilli = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2.contains((12L, 21L)), got2.toString) // exact dup of appended doc 12
    // tombstone doc 12: it stops matching; compaction preserves results
    graft.ops.Similarity.deleteFromIndex(df(Seq(12L -> "")).select("doc_id"), dir, idCol = "doc_id")
    val got3 = Dedup.probeSetJoinIndex(spark, dir, batch2, thresholdMilli = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got3.exists(p => p._1 == 12L || p._2 == 12L))
    Dedup.compactSetJoinIndex(spark, dir)
    val got4 = Dedup.probeSetJoinIndex(spark, dir, batch2, thresholdMilli = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got4 === got3)
    // re-insert: a batch re-crawling id 11 must not pair with its own
    // stale store copy (union parity: the rebuild sees the doc once)
    val recrawl = df(Seq(11L -> "the quick brown fox jumps over the lazy dog tonight"))
    val got5 = Dedup.probeSetJoinIndex(spark, dir, recrawl, thresholdMilli = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got5.contains((11L, 11L)))
    assert(got5.contains((1L, 11L)), got5.toString) // still pairs with real history
  }

  test("token-edit index lifecycle: probe == union batch join's batch slice; tombstones; re-insert") {
    val dir = java.nio.file.Files.createTempDirectory("tokeditidx").toString
    val hist = df(Seq(
      1L -> "alpha beta gamma delta",
      2L -> "totally unrelated words here"))
    val batch = df(Seq(
      11L -> "alpha beta gamma delta epsilon", // insert vs 1
      12L -> "alpha beta gamma delta",         // ed 0 vs 1, and ed<=1 vs 11
      13L -> "nothing like anything at all indexed"))
    Dedup.writeTokenEditIndex(hist, dir)
    val want = Dedup.tokenEditJoin(hist.unionAll(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      .filter(p => p._1 >= 11L || p._2 >= 11L)
    val got = Dedup.probeTokenEditIndex(spark, dir, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, s"got $got want $want")
    assert(got.contains((1L, 11L, 1L)) && got.contains((1L, 12L, 0L)) && got.contains((11L, 12L, 1L)))
    // append + tombstone + compact + re-insert parity
    Dedup.appendTokenEditIndex(batch, dir)
    graft.ops.Similarity.deleteFromIndex(df(Seq(13L -> "")).select("doc_id"), dir, idCol = "doc_id")
    Dedup.compactTokenEditIndex(spark, dir)
    val recrawl = df(Seq(12L -> "alpha beta gamma delta zz"))
    val got2 = Dedup.probeTokenEditIndex(spark, dir, recrawl)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the re-crawled 12 pairs against history/batch-11 under its NEW text,
    // never against its own stale store copy
    assert(!got2.contains((12L, 12L, 0L)) && !got2.exists(p => p._1 == 12L && p._2 == 12L))
    assert(got2.contains((1L, 12L, 1L)) && got2.contains((11L, 12L, 1L)), got2.toString)
  }

  test("token-edit index: params without sig_scheme, or naming md5, are refused on probe, append and ingest") {
    val s = spark
    import s.implicits._
    val hist = df(Seq(1L -> "alpha beta gamma delta", 2L -> "totally unrelated words here"))
    val batch = df(Seq(11L -> "alpha beta gamma delta epsilon"))
    def pin(dir: String, params: DataFrame): Unit =
      params.coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val stale = Seq(Seq(1).toDF("max_edit"), Seq((1, "md5")).toDF("max_edit", "sig_scheme"))

    val dir = java.nio.file.Files.createTempDirectory("tokeditpin").toString
    Dedup.writeTokenEditIndex(hist, dir)
    assert(spark.read.parquet(s"$dir/params").select("sig_scheme").head().getString(0) == "xxhash64")
    assert(Dedup.probeTokenEditIndex(spark, dir, batch).count() == 1) // (1, 11) at ed 1
    for (params <- stale) {
      pin(dir, params)
      val err = intercept[IllegalArgumentException](Dedup.probeTokenEditIndex(spark, dir, batch))
      assert(err.getMessage.contains("signatures"), err.getMessage)
      intercept[IllegalArgumentException](Dedup.appendTokenEditIndex(batch, dir))
    }

    val ingestDir = java.nio.file.Files.createTempDirectory("tokeditpiningest").toString
    Dedup.ingestTokenEditBatch(hist, ingestDir, 0L)
    for (params <- stale) {
      pin(ingestDir, params)
      intercept[IllegalArgumentException](Dedup.ingestTokenEditBatch(batch, ingestDir, 1L))
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$ingestDir/pairs/batch_id=1")))
  }

  test("setJoinDriftAudit: identical traffic scores 1.0; an unseen shared phrase inflates") {
    val dir = java.nio.file.Files.createTempDirectory("sjdrift").toString
    val corpus = df((1L to 12L).map(i =>
      i -> s"document number $i talks about topic ${i % 4} in detail with shared filler words"))
    Dedup.writeSetJoinIndex(corpus, dir, thresholdMilli = 500)
    // batch == build corpus: frozen df IS the fresh df, orders identical
    val same = Dedup.setJoinDriftAudit(spark, dir, corpus, thresholdMilli = 500).head()
    assert(same.getAs[Long]("n_docs") === 12L)
    assert(same.getAs[Long]("prefix_frozen") === same.getAs[Long]("prefix_fresh"))
    assert(same.getAs[Long]("cand_frozen") === same.getAs[Long]("cand_fresh"))
    assert(same.getAs[Long]("inflation_ppm") === 1000000L)
    // drifted batch over a MOSTLY-UNIQUE corpus (no shared shingles, so
    // the fresh order generates ~zero candidates): every batch doc carries
    // a phrase the build never saw — df 0 under the frozen order puts its
    // shared interior shingles in every prefix, inflating candidates
    // quadratically, while the fresh order files them last
    val dir2 = java.nio.file.Files.createTempDirectory("sjdrift2").toString
    val uniq = df((1L to 12L).map(i =>
      i -> (1 to 20).map(j => s"w${i}x$j").mkString(" ")))
    Dedup.writeSetJoinIndex(uniq, dir2, thresholdMilli = 800)
    val drifted = uniq.select(
      col("doc_id"),
      concat(col("text"), lit(" breaking news update breaking news update")).as("text"))
    val d = Dedup.setJoinDriftAudit(spark, dir2, drifted).head()
    assert(d.getAs[Long]("cand_frozen") > d.getAs[Long]("cand_fresh"),
      s"frozen ${d.getAs[Long]("cand_frozen")} vs fresh ${d.getAs[Long]("cand_fresh")}")
    assert(d.getAs[Long]("cand_frozen") === 66L, "all pairs share the df-0 phrase's prefix")
    assert(d.getAs[Long]("inflation_ppm") > 1000000L)
    // geometry mismatch refuses like every other store face
    val err = intercept[IllegalArgumentException](
      Dedup.setJoinDriftAudit(spark, dir, corpus, thresholdMilli = 800))
    assert(err.getMessage.contains("was built with"))
  }

  test("rebuildSetJoinIfDrifted: below threshold no-op; above, store == clean rebuild over live") {
    def store(path: String): (Set[Row], Set[Row], Set[Row]) = (
      spark.read.parquet(s"$path/df").collect().toSet,
      spark.read.parquet(s"$path/docs").select("id", "otks", "n").collect().toSet,
      spark.read.parquet(s"$path/prefix").select("id", "n", "tok").collect().toSet)
    // the planted-drift fixture from the audit test: unique corpus, every
    // batch doc sharing a phrase the build never saw
    val dir = java.nio.file.Files.createTempDirectory("sjrebuild").toString
    val uniq = df((1L to 12L).map(i => i -> (1 to 20).map(j => s"w${i}x$j").mkString(" ")))
    Dedup.writeSetJoinIndex(uniq, dir, thresholdMilli = 800)
    val drifted = uniq.select(
      col("doc_id"),
      concat(col("text"), lit(" breaking news update breaking news update")).as("text"))
    // below threshold (inflation measured ~5.5e6; Long.MaxValue clears it):
    // pure read, store byte-identical
    val before = store(dir)
    val no = Dedup.rebuildSetJoinIfDrifted(spark, dir, drifted, thresholdPpm = Long.MaxValue).head()
    assert(!no.getAs[Boolean]("rebuilt"))
    assert(no.getAs[Long]("inflation_ppm") > 1000000L)
    assert(store(dir) === before, "a below-threshold decision must not touch the store")
    // above threshold: rebuilt store must equal a clean writeSetJoinIndex
    // over the live corpus — here an APPENDED + partially TOMBSTONED one,
    // so live = build ∪ batch2 minus the tombstoned doc
    val batch2 = df(Seq(
      21L -> "breaking news update breaking news update plus twenty fresh tokens of body text here",
      22L -> "breaking news update breaking news update and another body that shares the new phrase"))
    Dedup.appendSetJoinIndex(batch2, dir, thresholdMilli = 800)
    graft.ops.Similarity.deleteFromIndex(
      batch2.filter(col("doc_id") === 22L).select("doc_id"), dir, idCol = "doc_id")
    val yes = Dedup.rebuildSetJoinIfDrifted(spark, dir, drifted, thresholdPpm = 1500000L).head()
    assert(yes.getAs[Boolean]("rebuilt"))
    val clean = java.nio.file.Files.createTempDirectory("sjclean").toString
    Dedup.writeSetJoinIndex(
      uniq.unionAll(batch2.filter(col("doc_id") === 21L)), clean, thresholdMilli = 800)
    val (gotDf, gotDocs, gotPref) = store(dir)
    val (wantDf, wantDocs, wantPref) = store(clean)
    assert(gotDf === wantDf, "rebuilt df must equal the clean build's df")
    assert(gotDocs === wantDocs, "rebuilt doc orders must equal the clean build's")
    assert(gotPref === wantPref, "rebuilt prefixes must equal the clean build's")
    // tombstones folded: the dropped doc never resurfaces, and a re-insert
    // of its id is no longer suppressed
    assert(!gotDocs.exists(_.getLong(0) == 22L))
    // the rebuilt order is exact for its own live traffic: auditing with
    // the live corpus itself reads EXACTLY parity (rebuilt df == fresh
    // df), so the conditional no-ops — the drift loop has converged
    val again = Dedup.rebuildSetJoinIfDrifted(
      spark, dir, uniq.unionAll(batch2.filter(col("doc_id") === 21L)),
      thresholdPpm = 1500000L).head()
    assert(!again.getAs[Boolean]("rebuilt"))
    assert(again.getAs[Long]("cand_frozen") === again.getAs[Long]("cand_fresh"),
      s"identical traffic over the rebuilt order must generate identical candidates, got $again")
    assert(store(dir)._1 === wantDf, "the no-op re-run must leave the rebuilt store alone")
  }

  test("inflight crash marker: probes and audits refuse a mid-swap store; rebuild clears it") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sjinflight").toString
    val uniq = df((1L to 8L).map(i => i -> (1 to 20).map(j => s"w${i}x$j").mkString(" ")))
    Dedup.writeSetJoinIndex(uniq, dir, thresholdMilli = 800)
    val batch = df(Seq(9L -> (1 to 20).map(j => s"w9x$j").mkString(" ")))
    // healthy store probes fine
    Dedup.probeSetJoinIndex(spark, dir, batch, thresholdMilli = 800).count()
    // simulate a crash after the FIRST swap of a rebuild: the on-disk
    // state is exactly "inflight marker present, directories possibly
    // mutually inconsistent"
    Seq("rebuildSetJoinIndex").toDF("op").write.parquet(s"$dir/inflight")
    val e1 = intercept[IllegalStateException] {
      Dedup.probeSetJoinIndex(spark, dir, batch, thresholdMilli = 800).count()
    }
    assert(e1.getMessage.contains("interrupted") && e1.getMessage.contains("rebuildSetJoinIndex"))
    intercept[IllegalStateException] {
      Dedup.setJoinDriftAudit(spark, dir, batch, thresholdMilli = 800).count()
    }
    // ...which also stops the conditional face (it measures via the audit)
    intercept[IllegalStateException] {
      Dedup.rebuildSetJoinIfDrifted(spark, dir, batch).count()
    }
    // re-running the interrupted rebuild TO COMPLETION clears the marker
    // and converges the store to the clean build
    Dedup.rebuildSetJoinIndex(spark, dir)
    val clean = java.nio.file.Files.createTempDirectory("sjinflightclean").toString
    Dedup.writeSetJoinIndex(uniq, clean, thresholdMilli = 800)
    def probe(p: String) = Dedup.probeSetJoinIndex(spark, p, batch, thresholdMilli = 800)
      .collect().toSet
    assert(probe(dir) === probe(clean))
    // a full write also resolves a stale marker (rebuild-from-scratch path)
    Seq("rebuildSetJoinIndex").toDF("op").write.parquet(s"$dir/inflight")
    Dedup.writeSetJoinIndex(uniq, dir, thresholdMilli = 800)
    assert(probe(dir) === probe(clean))
    // steady-state stream batches and appends refuse too (probe-AND-LAND
    // faces — landing pairs against mixed dirs would be permanent)...
    Seq("rebuildSetJoinIndex").toDF("op").write.parquet(s"$dir/inflight")
    intercept[IllegalStateException] {
      Dedup.ingestSetJoinBatch(batch, dir, 5L, thresholdMilli = 800)
    }
    intercept[IllegalStateException] {
      Dedup.appendSetJoinIndex(batch, dir, thresholdMilli = 800)
    }
    // ...while a FRESH stream's batch-0 wipe resolves the incident
    Dedup.ingestSetJoinBatch(uniq, dir, 0L, thresholdMilli = 800)
    Dedup.probeSetJoinIndex(spark, dir, batch, thresholdMilli = 800).count()
  }

  test("exactDupSurvivors: history pairs drop, in-batch min id survives, no kept-kept pair") {
    val dir = java.nio.file.Files.createTempDirectory("exsurv").toString
    val hist = df(Seq(1L -> "the quick brown fox jumps over the lazy dog today and tonight"))
    Dedup.writeSetJoinIndex(hist, dir, thresholdMilli = 500)
    val batch = df(Seq(
      11L -> "the quick brown fox jumps over the lazy dog today and forever", // ~hist: drops
      12L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",      // fresh rep: kept
      13L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",     // ~12: drops
      14L -> "completely different text about catalyst physical planning"))   // fresh: kept
    val kept = Dedup.exactDupSurvivors(batch, dir, thresholdMilli = 500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(12L, 14L), kept.toString)
    // no persisted store: falls back to the in-batch self-join
    val dir2 = java.nio.file.Files.createTempDirectory("exsurv2").toString
    val kept2 = Dedup.exactDupSurvivors(batch, dir2, thresholdMilli = 500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 === Set(11L, 12L, 14L), kept2.toString)
  }

  test("ingest: an EMPTY batch 0 still wipes a previous run's store (both exact joins)") {
    // StoreLifecycle claim-before-empty-check: a fresh stream whose batch 0
    // is empty must not let batch 1 silently merge into the old run's corpus
    val sjDir = java.nio.file.Files.createTempDirectory("sjwipe").toString
    val teDir = java.nio.file.Files.createTempDirectory("tewipe").toString
    val oldRun = df(Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "alpha beta gamma delta"))
    Dedup.ingestSetJoinBatch(oldRun, sjDir, 0L, thresholdMilli = 500)
    Dedup.ingestTokenEditBatch(oldRun, teDir, 0L)
    // new stream: batch 0 empty, batch 1 re-crawls near-dups of the old docs
    val empty = df(Seq.empty[(Long, String)])
    Dedup.ingestSetJoinBatch(empty, sjDir, 0L, thresholdMilli = 500)
    Dedup.ingestTokenEditBatch(empty, teDir, 0L)
    val b1 = df(Seq(
      11L -> "the quick brown fox jumps over the lazy dog tonight",
      12L -> "alpha beta gamma delta epsilon"))
    Dedup.ingestSetJoinBatch(b1, sjDir, 1L, thresholdMilli = 500)
    Dedup.ingestTokenEditBatch(b1, teDir, 1L)
    // the old run's docs are GONE: no cross pairs against ids 1/2 survive
    val sjPairs = spark.read.parquet(s"$sjDir/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tePairs = spark.read.parquet(s"$teDir/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sjPairs.exists(p => p._1 <= 2L || p._2 <= 2L), sjPairs.toString)
    assert(!tePairs.exists(p => p._1 <= 2L || p._2 <= 2L), tePairs.toString)
    // and the stores hold only the new stream's docs
    assert(spark.read.parquet(s"$sjDir/docs").select("id")
      .collect().map(_.getLong(0)).toSet === Set(11L, 12L))
    assert(spark.read.parquet(s"$teDir/docs").select("id")
      .collect().map(_.getLong(0)).toSet === Set(11L, 12L))
    // set-join df order froze from batch 1 (batch 0 had no content to freeze)
    assert(spark.read.parquet(s"$sjDir/params").select("threshold_milli").head.getInt(0) === 500)
  }
}
