package graft

import graft.ops.{Dedup, Funnel, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {

  private def md5Hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString

  test("cleanLines keeps only terminated, long, marker-free lines") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L,
        "this line has six words total.\n" +
          "short line.\n" +
          "please enable JavaScript to continue now.\n" +
          "one two three four five six\n" +
          "braces { are code } maybe fine.\n" +
          "\n" +
          "does this question count as kept?")).toDF("doc_id", "text")
    val r = TextAnalysis.cleanLines(docs).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_lines") == 6) // blank line dropped from the count
    assert(r(0).getAs[Long]("n_kept") == 2)
    assert(
      r(0).getAs[String]("kept_md5") ==
        md5Hex("this line has six words total.\ndoes this question count as kept?"))
  }

  test("cleanLines handles CRLF line endings (no CR smuggled into the punctuation test)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "this crlf line has six words.\r\nanother crlf line with six words!")).toDF("doc_id", "text")
    val r = TextAnalysis.cleanLines(docs).collect()(0)
    assert(r.getAs[Long]("n_lines") == 2 && r.getAs[Long]("n_kept") == 2)
  }

  test("cleanLines of an all-dropped doc digests the empty string") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "too short.\nno punctuation here at all")).toDF("doc_id", "text")
    val r = TextAnalysis.cleanLines(docs).collect()(0)
    assert(r.getAs[Long]("n_kept") == 0)
    assert(r.getAs[String]("kept_md5") == md5Hex(""))
  }

  test("urlDomains aggregates per-domain url and doc counts") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "visit https://a.example/x and https://a.example/y plus http://b.example/z"),
      (2L, "just https://a.example/index here"),
      (3L, "no links at all")).toDF("doc_id", "text")
    val got = TextAnalysis.urlDomains(docs).collect()
      .map(r => r.getAs[String]("domain") -> (r.getAs[Long]("n_urls"), r.getAs[Long]("n_docs")))
      .toMap
    assert(got == Map("a.example" -> ((3L, 2L)), "b.example" -> ((1L, 1L))))
  }

  private lazy val fixture = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the old river bank tonight"), // near-dup of 1
      (3L, "completely different content about spark query engines and columnar storage"),
      (4L, "the quick brown fox jumps over the lazy dog near the old river bank today") // exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("simHashWide: 60-bit fingerprint, identical docs collide, deterministic") {
    val r1 = Dedup.simHashWide(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val r2 = Dedup.simHashWide(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(r1 == r2)
    assert(r1.values.forall(v => v >= 0L && v < (1L << 60)))
    assert(r1(1L) == r1(4L)) // exact dups -> identical fingerprint
    assert(r1(1L) != r1(3L)) // unrelated content -> different fingerprint
  }

  test("simHashPairs surfaces exact dups at hamming 0 and excludes unrelated docs") {
    val pairs = Dedup.simHashPairs(fixture).collect()
      .map(r =>
        (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
    assert(pairs.contains((1L, 4L, 0L)), pairs.mkString(","))
    assert(pairs.forall { case (a, b, _) => a != 3L && b != 3L })
    assert(pairs.forall { case (a, b, h) => a < b && h <= 3 })
  }

  test("hashingVectors: bucket arithmetic matches MessageDigest, counts add up") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
    val r = TextAnalysis.hashingVectors(docs).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 3L)
    def bucketOf(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val v = (0 until 3).map(i => "0123456789abcdef".indexOf(h(i)).toLong)
      (v(0) * 256 + v(1) * 16 + v(2)) % 1024
    }
    val expected = Seq("alpha" -> 2L, "beta" -> 1L)
      .map { case (t, w) => bucketOf(t) -> w }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    assert(r.getAs[Long]("n_features") == expected.size.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(
      expected.map { case (b, w) => s"$b:$w" }.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getAs[String]("vec_md5") == digest)
  }

  test("verifyEditDistance: exact distances and normalized similarity on the fixture") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("doc_a", "doc_b")
    val got = Dedup.verifyEditDistance(pairs, fixture).collect()
      .map(r =>
        (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
          ((r.getAs[Long]("edit_dist"), r.getAs[Double]("similarity"))))
      .toMap
    // docs 1 and 4 are identical; docs 1 and 2 differ by "today" vs "tonight"
    assert(got((1L, 4L)) == ((0L, 1.0)))
    val (d, sim) = got((1L, 2L))
    assert(d > 0 && d <= 7 && sim > 0.9)
  }

  test("aHashPairs: close hashes pair with exact hamming, far hashes excluded") {
    val s = spark
    import s.implicits._
    val hashes = Seq(
      (1L, 0x12345678L, 0x0000ffffL),
      (2L, 0x12345678L, 0x0000fffeL), // 1 bit from doc 1
      (3L, 0x0f0f0f0fL, 0xaaaaaaaaL) // far from both
    ).toDF("doc_id", "hash_hi", "hash_lo")
    val got = Dedup.aHashPairs(hashes).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
      .toSeq
    assert(got == Seq((1L, 2L, 1L)))
  }

  test("lengthBuckets: smallest fitting bucket, truncation into the largest, waste math") {
    val s = spark
    import s.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(10)), // bucket 16
      (2L, words(20)), // bucket 32
      (3L, words(100)), // bucket 128
      (4L, words(600)) // beyond the largest -> truncates into 512
    ).toDF("doc_id", "text")
    val got = graft.ops.Corpus.lengthBuckets(docs).collect()
      .map(r =>
        r.getAs[Long]("bucket") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
            r.getAs[Long]("padded_tokens"), r.getAs[Double]("waste_frac"))))
      .toMap
    assert(got(16L) == ((1L, 10L, 16L, 0.375)))
    assert(got(32L) == ((1L, 20L, 32L, 0.375)))
    assert(got(128L) == ((1L, 100L, 128L, 0.2188)))
    // the 600-token doc truncates: real tokens capped at the bucket width
    assert(got(512L) == ((1L, 512L, 512L, 0.0)))
  }

  test("IVF index lifecycle: saved cells probe identically; unprobed cells prune at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    Similarity.writeIvfFlatIndex(e, dir)
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_r")))
      .toSet
    val direct = rows(Similarity.ivfFlatTopK(q, e, k = 5))
    val probed = Similarity.probeIvfFlatIndex(spark, dir, q, k = 5)
    assert(rows(probed) == direct, "index probe must equal the direct computation")
    // dynamic partition pruning: the broadcastable probe side filters the
    // partitioned cells scan, so unprobed cells' files are never read
    val again = Similarity.probeIvfFlatIndex(spark, dir, q, k = 5)
    again.count()
    val p = again.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(2000))
  }

  test("k-means IVF index lifecycle: probe equals in-memory; appended exact copies rank first") {
    val dir = java.nio.file.Files.createTempDirectory("ivfkm").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_r")))
      .toSet
    Similarity.writeIvfIndex(e, dir)
    assert(
      rows(Similarity.probeIvfIndex(spark, dir, q, k = 5)) ==
        rows(Similarity.ivfTopK(q, e, k = 5)),
      "persisted probe must equal the in-memory k-means IVF")
    // append exact copies of the queries under fresh ids: frozen centroids
    // assign them to the same cells their originals live in, so each query
    // must now see its own copy at rank 1 with cosine 1.0
    Similarity.appendIvfIndex(
      q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")), dir)
    val grown = Similarity.probeIvfIndex(spark, dir, q, k = 5)
      .filter(col("rank") === 1)
      .collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_r"))))
      .toMap
    (0L until 8L).foreach { qid =>
      assert(grown(qid) == ((qid + 1000000L, 1.0)), s"query $qid: ${grown(qid)}")
    }
  }

  test("ivfRecallAudit: exhaustive nProbe recovers 1000 milli; starved probes score lower") {
    val dir = java.nio.file.Files.createTempDirectory("ivfrecall").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    Similarity.writeIvfIndex(e, dir)
    val nCells = spark.read.parquet(s"$dir/centroids").count().toInt
    // nProbe >= |centroids| makes the probe exhaustive == brute force
    val full = Similarity.ivfRecallAudit(spark, dir, q, k = 5, nProbe = nCells)
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"), r.getAs[Long]("recall_milli"))))
      .toMap
    assert(full.keySet === (0L until 8L).toSet)
    full.foreach { case (qid, (ne, nh, rm)) =>
      assert(ne === 5L && nh === 5L && rm === 1000L, s"query $qid: ($ne, $nh, $rm)")
    }
    // a starved probe (1 cell) can only do worse or equal, never better
    val one = Similarity.ivfRecallAudit(spark, dir, q, k = 5, nProbe = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("recall_milli")).toMap
    one.foreach { case (qid, rm) => assert(rm <= 1000L && rm >= 0L, s"query $qid: $rm") }
    // the comparator itself: disjoint top-k tables score 0
    val s = spark
    import s.implicits._
    val ap = Seq((1L, 1, 10L), (1L, 2, 11L)).toDF("query_id", "rank", "neighbor_id")
    val ex = Seq((1L, 1, 20L), (1L, 2, 21L)).toDF("query_id", "rank", "neighbor_id")
    val z = Similarity.annRecallAudit(ap, ex, k = 2).head()
    assert(z.getAs[Long]("n_exact") === 2L && z.getAs[Long]("n_hit") === 0L &&
      z.getAs[Long]("recall_milli") === 0L)
  }

  test("autoTuneNProbe: chosen nProbe is MINIMAL for the target; trivial target tunes to 1") {
    val dir = java.nio.file.Files.createTempDirectory("ivftune").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    Similarity.writeIvfIndex(e, dir)
    def microRecallAt(p: Int): Long = {
      val r = Similarity.ivfRecallAudit(spark, dir, q, k = 5, nProbe = p)
        .agg(sum("n_hit").cast("long"), sum("n_exact").cast("long")).head()
      (1000L * r.getLong(0)) / r.getLong(1)
    }
    val row = Similarity.autoTuneNProbe(spark, dir, q, k = 5, targetRecallMilli = 950L).head()
    val chosen = row.getAs[Long]("n_probe").toInt
    assert(row.getAs[Long]("recall_milli") === microRecallAt(chosen))
    assert(row.getAs[Long]("recall_milli") >= 950L)
    // minimality: one probe fewer must miss the target (the audited
    // recall function IS the ground truth the tuner searched over)
    if (chosen > 1) assert(microRecallAt(chosen - 1) < 950L, s"chosen $chosen not minimal")
    assert(!row.getAs[Boolean]("exhaustive") || chosen === 16)
    // the cost echo: the chosen rung scored a positive, bounded number of
    // (query, candidate) pairs — 8 queries against at most the live set
    val cand = row.getAs[Long]("candidates_scored")
    assert(cand > 0L && cand <= 8L * e.count(), s"candidates_scored $cand")
    // warm start: a PERFECT hint re-finds the same answer (same recall,
    // same cost) in at most two rungs — hint passes, hint-1 fails —
    // where the cold search pays the full ladder + binary climb
    val warm = Similarity.autoTuneNProbe(spark, dir, q, k = 5, targetRecallMilli = 950L,
      nProbeHint = chosen).head()
    assert(warm.getAs[Long]("n_probe") === chosen.toLong)
    assert(warm.getAs[Long]("recall_milli") === row.getAs[Long]("recall_milli"))
    assert(warm.getAs[Long]("candidates_scored") === cand)
    assert(warm.getAs[Long]("n_rungs") <= 2L, s"perfect hint paid ${warm.getAs[Long]("n_rungs")}")
    if (chosen > 1)
      assert(row.getAs[Long]("n_rungs") > warm.getAs[Long]("n_rungs"),
        s"cold ${row.getAs[Long]("n_rungs")} vs warm ${warm.getAs[Long]("n_rungs")}")
    // a FAILING hint ladders up from where it stands, same minimal answer
    if (chosen > 1) {
      val low = Similarity.autoTuneNProbe(spark, dir, q, k = 5, targetRecallMilli = 950L,
        nProbeHint = 1).head()
      assert(low.getAs[Long]("n_probe") === chosen.toLong, low.toString)
    }
    // any probe at all clears a 1-milli target: the tuner must not
    // overshoot past the first rung
    val trivial = Similarity.autoTuneNProbe(spark, dir, q, k = 5, targetRecallMilli = 1L).head()
    assert(trivial.getAs[Long]("n_probe") === 1L, trivial.toString)
  }

  test("ivfRecallCurve ≡ per-p recall audit on fresh, stale, tombstoned and tied stores") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 8)
    def tmp(n: String) = java.nio.file.Files.createTempDirectory(n).toString
    val fresh = tmp("curvefresh")
    Similarity.writeIvfIndex(e, fresh)
    // stale: the quantizer trained on coordinate-rotated vectors
    val stale = tmp("curvestale")
    Similarity.writeIvfIndexTrained(e, e.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("concat(slice(embedding, 2, 63), slice(embedding, 1, 1))").as("embedding")), stale)
    // tombstoned: every id = 1 mod 5 deleted, two of the queries included
    val tomb = tmp("curvetomb")
    Similarity.writeIvfIndex(e, tomb)
    Similarity.deleteFromIndex(e.filter(col("vec_id") % 5 === 1).select("vec_id"), tomb)
    // tied: each odd id below 16 carries its even predecessor's vector,
    // so the unrefined (iters = 0) seed centroids tie pairwise on csim,
    // and every 4th vector has a copy under a second id, so cos_r ties
    val twin = e.as("a")
      .join(e.as("b"), col("b.vec_id") === col("a.vec_id") - col("a.vec_id") % 2)
      .filter(col("a.vec_id") < 16)
      .select(col("a.vec_id"), col("b.embedding"))
    val tiedCorpus = e.filter(col("vec_id") >= 16).unionAll(twin).unionAll(
      e.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val tied = tmp("curvetied")
    Similarity.writeIvfIndex(tiedCorpus, tied, iters = 0)
    // the per-rung ladder's answers before the closed form replaced it:
    // store -> (target, hint -> (n_probe, recall_milli, candidates_scored,
    // n_rungs)); the tied store clears 950 at p = 1, so it is pinned at 1000
    val ladder = Map(
      "fresh" -> ((950L, Map(0 -> ((6L, 975L, 1450L, 6L)), 1 -> ((6L, 975L, 1450L, 6L)),
        6 -> ((6L, 975L, 1450L, 2L))))),
      "stale" -> ((950L, Map(0 -> ((12L, 975L, 3017L, 8L)), 1 -> ((12L, 975L, 3017L, 8L)),
        12 -> ((12L, 975L, 3017L, 2L))))),
      "tomb" -> ((950L, Map(0 -> ((6L, 975L, 1175L, 6L)), 1 -> ((6L, 975L, 1175L, 6L)),
        6 -> ((6L, 975L, 1175L, 2L))))),
      "tied" -> ((1000L, Map(0 -> ((3L, 1000L, 1170L, 4L)), 1 -> ((3L, 1000L, 1170L, 4L)),
        3 -> ((3L, 1000L, 1170L, 2L))))))
    for ((name, dir, qq) <- Seq(
        ("fresh", fresh, q), ("stale", stale, q), ("tomb", tomb, q),
        ("tied", tied, tiedCorpus.filter(col("vec_id") < 8)))) {
      val curve = Similarity.ivfRecallCurve(spark, dir, qq, k = 5)
      val nCent = spark.read.parquet(s"$dir/centroids").count().toInt
      assert(curve.length === nCent + 1, s"$name: one curve point per p in 0..$nCent")
      val audited = (1 to nCent)
        .map(p => Similarity.ivfRecallAudit(spark, dir, qq, k = 5, nProbe = p)
          .agg(sum("n_hit").cast("long").as("h"), sum("n_exact").cast("long").as("e"))
          .withColumn("p", lit(p)))
        .reduce(_ unionAll _)
        .collect()
        .map(r => r.getInt(2) -> (1000L * r.getLong(0)) / r.getLong(1))
        .toMap
      (1 to nCent).foreach(p =>
        assert(curve(p) === audited(p), s"$name: curve($p) vs the audited probe"))
      val (target, pins) = ladder(name)
      pins.foreach { case (hint, want) =>
        val r = Similarity.autoTuneNProbe(spark, dir, qq, k = 5, targetRecallMilli = target,
          nProbeHint = hint).head()
        val got = (r.getAs[Long]("n_probe"), r.getAs[Long]("recall_milli"),
          r.getAs[Long]("candidates_scored"), r.getAs[Long]("n_rungs"))
        assert(got === want, s"$name hint $hint")
        assert(r.getAs[Long]("n_queries") === 8L && r.getAs[Long]("n_centroids") === nCent.toLong)
      }
    }
  }

  test("writeIvfIndexTrained: the train/add split equals build + append + tombstone") {
    val a = java.nio.file.Files.createTempDirectory("ivftrainA").toString
    val b = java.nio.file.Files.createTempDirectory("ivftrainB").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val rot = e.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("concat(slice(embedding, 2, 63), slice(embedding, 1, 1))").as("embedding"))
    Similarity.writeIvfIndexTrained(e, rot, a)
    Similarity.writeIvfIndex(rot, b)
    Similarity.appendIvfIndex(e, b)
    Similarity.deleteFromIndex(rot.select("vec_id"), b)
    val q = e.filter(col("vec_id") < 8)
    def probe(dir: String) = Similarity.probeIvfIndex(spark, dir, q, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(probe(a) === probe(b), "train/add must reach the lifecycle construction's state")
  }

  test("autoTuneIvfBuild: every rung meets the target; chosen = cheapest probe, ties coarser") {
    val work = java.nio.file.Files.createTempDirectory("ivfbuild").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 8)
    // the registry's bounded train sample: each rung's Lloyd chain runs
    // over it, the store's cells hold the full corpus
    val train = e.filter(col("vec_id") % 3 =!= 0)
    val rows = Similarity.autoTuneIvfBuild(spark, work, e, q, k = 5, trainSet = Some(train))
      .collect()
      .map(r => (r.getAs[Long]("n_centroids"), r.getAs[Long]("n_probe"),
        r.getAs[Long]("recall_milli"), r.getAs[Long]("candidates_scored"),
        r.getAs[Boolean]("chosen")))
    assert(rows.map(_._1).toSeq == Seq(4L, 8L, 16L), rows.mkString(","))
    // flat IVF always reaches the target (probing all cells is exact)
    rows.foreach { case (nc, np, rec, cand, _) =>
      assert(rec >= 950L, s"rung $nc missed: $rec")
      assert(np >= 1L && np <= nc, s"rung $nc tuned np=$np")
      assert(cand > 0L, s"rung $nc scored nothing")
    }
    // the chosen rung is the (candidates, nc)-minimum, and unique
    val want = rows.minBy { case (nc, _, _, cand, _) => (cand, nc) }._1
    assert(rows.filter(_._5).map(_._1).toSeq == Seq(want), rows.mkString(","))
    // the closed-form curve reproduces the per-rung ladder's table
    assert(rows.toSeq == Seq(
      (4L, 3L, 950L, 2992L, false), (8L, 6L, 975L, 3023L, false),
      (16L, 10L, 950L, 2506L, true)), rows.mkString(","))
    // each rung's tuned nProbe agrees with tuning that store directly
    // (the per-store search is the oracle-pinned kernel)
    val direct = Similarity.autoTuneNProbe(spark, s"$work/nc_8", q, k = 5).head()
    assert(direct.getAs[Long]("n_probe") === rows(1)._2, direct.toString)
    assert(direct.getAs[Long]("candidates_scored") === rows(1)._4)
    // the rung's store IS the trained-split build: its centroids equal a
    // direct writeIvfIndexTrained over the same sample (the quantizer
    // trained on the sample, never the corpus — the 100 TB contract)
    val trainedDir = java.nio.file.Files.createTempDirectory("ivfbuildtr").toString
    Similarity.writeIvfIndexTrained(e, train, trainedDir, nCentroids = 8)
    def cents(dir: String) = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(cents(s"$work/nc_8") === cents(trainedDir),
      "rung centroids must equal the trained-split build's")
    // ladder validation fails fast
    intercept[IllegalArgumentException](
      Similarity.autoTuneIvfBuild(spark, work, e, q, k = 5, ladder = Seq(8, 4)))
  }

  test("autoTuneIvfPqBuild: per-rung composed recall matches the audit; honest no-pass pick") {
    val work = java.nio.file.Files.createTempDirectory("ivfpqbuild").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 8)
    // both quantizers train on the bounded sample; a modest target the
    // lossy codes can reach on this fixture
    val train = e.filter(col("vec_id") % 3 =!= 0)
    val rows = Similarity.autoTuneIvfPqBuild(
      spark, work, e, q, k = 5, targetRecallMilli = 700L, trainSet = Some(train))
      .collect()
      .map(r => (r.getAs[Long]("n_centroids"), r.getAs[Long]("n_probe"),
        r.getAs[Long]("recall_milli"), r.getAs[Long]("candidates_scored"),
        r.getAs[Boolean]("passed"), r.getAs[Boolean]("chosen")))
    assert(rows.map(_._1).toSeq == Seq(4L, 8L, 16L), rows.mkString(","))
    // each rung's recall equals the oracle-checked composed audit at its
    // tuned nProbe (the stores live under work/nc_<n>)
    rows.foreach { case (nc, np, rec, cand, passed, _) =>
      val audit = Similarity
        .ivfPqRecallAudit(spark, s"$work/nc_$nc", e, q, k = 5, nProbe = np.toInt)
        .agg(sum("n_hit").cast("long"), sum("n_exact").cast("long")).head()
      assert(rec === (1000L * audit.getLong(0)) / audit.getLong(1), s"rung $nc")
      assert(passed === (rec >= 700L) && cand > 0L && np >= 1L && np <= nc)
    }
    // chosen: unique; cheapest among passing rungs, else highest recall
    val passedRungs = rows.filter(_._5)
    val want =
      if (passedRungs.nonEmpty) passedRungs.minBy { case (nc, _, _, c, _, _) => (c, nc) }._1
      else rows.minBy { case (nc, _, r, c, _, _) => (-r, c, nc) }._1
    assert(rows.filter(_._6).map(_._1).toSeq == Seq(want), rows.mkString(","))
    // the rung stores ARE trained-split builds: centroids AND codebook
    // equal a direct writeIvfPqIndexTrained over the same sample
    val trainedDir = java.nio.file.Files.createTempDirectory("ivfpqbuildtr").toString
    Similarity.writeIvfPqIndexTrained(e, train, trainedDir, nCentroids = 8)
    def tbl(dir: String, sub: String) = spark.read.parquet(s"$dir/$sub")
      .collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case x => x
      }).toSet
    assert(tbl(s"$work/nc_8", "centroids") === tbl(trainedDir, "centroids"))
    assert(tbl(s"$work/nc_8", "codebook") === tbl(trainedDir, "codebook"))
    // an unreachable target still returns the full table with the honest
    // max-recall pick; a single-rung ladder's rung is always chosen
    val hard = Similarity.autoTuneIvfPqBuild(
      spark, s"$work/hard", e, q, k = 5, targetRecallMilli = 1000L, ladder = Seq(4))
      .collect()
    assert(hard.length == 1, hard.mkString(","))
    assert(hard.head.getAs[Boolean]("chosen"), "the only rung is always chosen")
    assert(hard.head.getAs[Boolean]("passed") ===
      (hard.head.getAs[Long]("recall_milli") >= 1000L), hard.head.toString)
  }

  test("autoTuneNProbeIvfPq: minimal composed nProbe against the corpus-backed recall audit") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqtune").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 8)
    Similarity.writeIvfPqIndex(e, dir)
    def microRecallAt(p: Int): Long = {
      val r = Similarity.ivfPqRecallAudit(spark, dir, e, q, k = 5, nProbe = p)
        .agg(sum("n_hit").cast("long"), sum("n_exact").cast("long")).head()
      (1000L * r.getLong(0)) / r.getLong(1)
    }
    // a modest target the lossy codes can reach on this fixture; the
    // exhaustive ceiling is echoed honestly either way
    val row = Similarity
      .autoTuneNProbeIvfPq(spark, dir, e, q, k = 5, targetRecallMilli = 700L)
      .head()
    val chosen = row.getAs[Long]("n_probe").toInt
    assert(row.getAs[Long]("recall_milli") === microRecallAt(chosen))
    if (!row.getAs[Boolean]("exhaustive")) {
      assert(row.getAs[Long]("recall_milli") >= 700L)
      if (chosen > 1) assert(microRecallAt(chosen - 1) < 700L, s"chosen $chosen not minimal")
    } else {
      // unreachable target: the ceiling is the exhaustive probe's recall
      assert(chosen === 16)
    }
  }

  test("rankingAudit: hand NDCG/MRR, perfect ranking reads exactly 1e6 ppm, empty truth null") {
    val s = spark
    import s.implicits._
    val w = Similarity.ndcgWeightsMicro(3)
    val ap = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L), // truth {11, 12}: hits at ranks 2, 3
      (2L, 1, 20L), (2L, 2, 21L),               // truth {20, 21}: perfect order
      (3L, 1, 30L))                             // truth {}: no ideal exists
      .toDF("query_id", "rank", "neighbor_id")
    // q4 is truth-ONLY (zero probe rows): the degenerate probe the audit
    // must surface as a row, not silently drop
    val tr = Seq((1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (4L, 40L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.rankingAudit(ap, tr, k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getLong(3), r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long]))))
      .toMap
    // q1: first hit at rank 2 -> mrr 500000; dcg = W2 + W3, ideal = W1 + W2
    assert(got(1L) === ((2L, Some(2L), 500000L, w(1) + w(2),
      Some(1000000L * (w(1) + w(2)) / (w(0) + w(1))))), got.toString)
    // q2: perfect ranking of the full truth set reads exactly 10^6 ppm
    assert(got(2L) === ((2L, Some(1L), 1000000L, w(0) + w(1), Some(1000000L))))
    // q3: empty truth -> mrr 0, dcg 0, ndcg null (no ideal), never a fake 0
    assert(got(3L) === ((0L, None, 0L, 0L, None)))
    // q4: truth-only (no probe rows at all) still reports — ndcg an
    // honest 0 (an ideal exists and nothing was ranked), mrr 0
    assert(got(4L) === ((1L, None, 0L, 0L, Some(0L))))
    // weight pinning: rank-1 weight is exactly 10^6 (log2(2) = 1)
    assert(w.head === 1000000L)
  }

  test("rankOverlapAudit: hand RBO weights, identical/partial/disjoint lists, A-only query") {
    val s = spark
    import s.implicits._
    // k=3, p=0.9: w_d = (0.1, 0.045, 0.027); tail weights W(m) =
    // (172000, 72000, 27000) ppm
    val a = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      (2L, 1, 20L), (2L, 2, 21L), (2L, 3, 22L),
      (3L, 1, 30L), (3L, 2, 31L), (3L, 3, 32L),
      (4L, 1, 40L))
      .toDF("query_id", "rank", "neighbor_id")
    val b = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L), // identical
      (2L, 1, 21L), (2L, 2, 20L), (2L, 3, 99L), // top-2 swapped
      (3L, 1, 80L), (3L, 2, 81L), (3L, 3, 82L)) // disjoint
      .toDF("query_id", "rank", "neighbor_id")
    val got = Similarity.rankOverlapAudit(a, b, k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L) === ((3L, 271000L)), got.toString) // full truncated mass
    // swapped pair: both docs first co-appear at depth 2 -> 2 * 72000
    assert(got(2L) === ((2L, 144000L)))
    assert(got(3L) === ((0L, 0L)))
    assert(got(4L) === ((0L, 0L)), "a query B never ranked still reports")
  }

  test("silhouetteAudit: hand squared-L2 silhouettes, centroid self-rows, degenerate null") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 0f)), // the two flat centroids
      (2L, Seq(1f, 0f)), (3L, Seq(4f, 0f)), (4L, Seq(10f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.silhouetteAudit(e, nCentroids = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap
    // cell 0 = {0 (s=1e6), 2 (80/81), 3 (20/36)}: mean trunc 847736
    assert(got(0L) === ((3L, Some(847736L), Some(555555L))), got.toString)
    // cell 1 = {1 (1e6), 4 (100/101)}: mean trunc 995049
    assert(got(1L) === ((2L, Some(995049L), Some(990099L))))
    // every vector at one point: a = b = 0 everywhere -> degenerate null
    val dup = Seq((0L, Seq(1f, 1f)), (1L, Seq(1f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val d = Similarity.silhouetteAudit(dup, nCentroids = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(d(0L) === ((3L, None)), "ties to the lower centroid id, silhouette undefined")
  }

  test("rrfFuse: hand RRF math, duplicate posting keeps best rank, ties by doc_id") {
    val s = spark
    import s.implicits._
    val rankings = Seq(
      // query 1 — source a top-3 (+ a duplicate posting of doc 10 at a
      // worse rank that must NOT double-vote), source b top-3
      ("a", 1L, 10L, 1L), ("a", 1L, 11L, 2L), ("a", 1L, 12L, 3L), ("a", 1L, 10L, 5L),
      ("b", 1L, 11L, 1L), ("b", 1L, 13L, 2L), ("b", 1L, 10L, 3L),
      // query 2 — two single-source docs with identical fused scores
      ("a", 2L, 21L, 1L), ("b", 2L, 20L, 1L))
      .toDF("source", "query_id", "doc_id", "rank")
    val got = Similarity.rrfFuse(rankings, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // doc11: 1e6/62 + 1e6/61 = 16129 + 16393; doc10: 1e6/61 + 1e6/63
    assert(got((1L, 1)) === ((11L, 32522L, 2L, 1L)), got.toString)
    assert(got((1L, 2)) === ((10L, 32266L, 2L, 1L)))
    assert(got((1L, 3)) === ((13L, 16129L, 1L, 2L)))
    assert(!got.contains((1L, 4)), "k=3 cuts doc 12")
    // identical score + n_sources -> doc_id ascending breaks the tie
    assert(got((2L, 1)) === ((20L, 16393L, 1L, 1L)))
    assert(got((2L, 2)) === ((21L, 16393L, 1L, 1L)))
  }

  test("retrainIvfIfDrifted: below threshold byte-for-byte no-op; above, store == clean build") {
    val dir = java.nio.file.Files.createTempDirectory("ivfifd").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    // stale quantizer: trained over 2/3 of the corpus, the rest appended
    // frozen (the similarity_topk_ivf_retrained fixture)
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 3 =!= 2), dir)
    Similarity.appendIvfIndex(e.filter(col("vec_id") % 3 === 2), dir)
    def store() = (
      spark.read.parquet(s"$dir/centroids").collect().toSet,
      spark.read.parquet(s"$dir/cells").collect().toSet)
    val before = store()
    // a same-distribution slice carries little drift: max threshold
    // guarantees the no-op branch, and the store must be untouched
    val sameDist = e.filter(col("vec_id") % 10 === 3)
    val no = Similarity.retrainIvfIfDrifted(spark, dir, sameDist, thresholdMilli = 1000L).head()
    assert(!no.getAs[Boolean]("retrained"))
    assert(no.getAs[Long]("tv_milli") < 1000L)
    assert(store() === before, "a below-threshold decision must not touch the store")
    // the unattended loop's idle batch: no drift signal -> "not measured"
    // no-op row, never the drift report's fail-fast
    val idle = Similarity
      .retrainIvfIfDrifted(spark, dir, e.filter(col("vec_id") < 0), thresholdMilli = 0L)
      .head()
    assert(!idle.getAs[Boolean]("retrained") && idle.getAs[Long]("n_cells") === 0L)
    assert(store() === before, "an idle batch must not touch the store")
    // a collapsed batch (every vector on one constant direction) crosses
    // any reasonable threshold; the retrained store must probe-equal a
    // clean writeIvfIndex over the same corpus
    val e1 = array((0 until 64).map(i => lit(if (i == 0) 1.0f else 0.0f)): _*)
    val collapsed = sameDist.select(col("vec_id"), e1.as("embedding"))
    val yes = Similarity.retrainIvfIfDrifted(spark, dir, collapsed, thresholdMilli = 300L).head()
    assert(yes.getAs[Boolean]("retrained"))
    assert(yes.getAs[Long]("tv_milli") > 300L)
    val clean = java.nio.file.Files.createTempDirectory("ivfifdclean").toString
    Similarity.writeIvfIndex(e, clean)
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_r")))
      .toSet
    assert(
      rows(Similarity.probeIvfIndex(spark, dir, q, k = 5)) ===
        rows(Similarity.probeIvfIndex(spark, clean, q, k = 5)),
      "the acted-on retrain must equal a clean build over the live corpus")
  }

  test("inflight crash marker: IVF/PQ probes and drift faces refuse a mid-swap store; retrain clears it") {
    val s = spark
    import s.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 4)
    // IVF: a crash between the cells and centroids swaps
    val ivf = java.nio.file.Files.createTempDirectory("ivfinflight").toString
    Similarity.writeIvfIndex(e, ivf)
    val healthy = Similarity.probeIvfIndex(spark, ivf, q, k = 3).collect().toSet
    Seq("retrainIvfIndex").toDF("op").write.parquet(s"$ivf/inflight")
    val e1 = intercept[IllegalStateException] {
      Similarity.probeIvfIndex(spark, ivf, q, k = 3).count()
    }
    assert(e1.getMessage.contains("interrupted") && e1.getMessage.contains("retrainIvfIndex"))
    intercept[IllegalStateException] {
      Similarity.indexDriftReport(spark, ivf, q).count()
    }
    // the conditional face inherits the refusal for any REAL batch (an
    // idle batch stays a no-op — it never reads the store)
    intercept[IllegalStateException] {
      Similarity.retrainIvfIfDrifted(spark, ivf, q).count()
    }
    // re-running the interrupted retrain to completion clears the marker
    Similarity.retrainIvfIndex(spark, ivf)
    assert(Similarity.probeIvfIndex(spark, ivf, q, k = 3).collect().toSet === healthy)
    // PQ: a crash between the codes and codebook swaps
    val pq = java.nio.file.Files.createTempDirectory("pqinflight").toString
    Similarity.writePqIndex(e, pq)
    val pqHealthy = Similarity.probePqIndex(spark, pq, q, k = 3).collect().toSet
    Seq("retrainPqIndex").toDF("op").write.parquet(s"$pq/inflight")
    intercept[IllegalStateException] {
      Similarity.probePqIndex(spark, pq, q, k = 3).count()
    }
    intercept[IllegalStateException] {
      Similarity.retrainPqIfDrifted(spark, pq, q, e).count()
    }
    Similarity.retrainPqIndex(spark, pq, e)
    assert(Similarity.probePqIndex(spark, pq, q, k = 3).collect().toSet === pqHealthy)
    // a full write also resolves a stale marker
    Seq("retrainPqIndex").toDF("op").write.parquet(s"$pq/inflight")
    Similarity.writePqIndex(e, pq)
    assert(Similarity.probePqIndex(spark, pq, q, k = 3).collect().toSet === pqHealthy)
    // probe-and-land faces refuse too: appends and steady-state stream
    // batches must never encode against a crashed store's mixed dirs
    Seq("retrainPqIndex").toDF("op").write.parquet(s"$pq/inflight")
    intercept[IllegalStateException] { Similarity.appendPqIndex(q, pq) }
    intercept[IllegalStateException] { Similarity.ingestPqBatch(q, pq, 3L) }
    // a fresh stream's batch-0 claim resolves the incident
    Similarity.ingestPqBatch(e, pq, 0L)
    Similarity.probePqIndex(spark, pq, q, k = 3).count()
  }

  test("retrainPqIfDrifted: below threshold byte-for-byte no-op; above, store == clean build") {
    val dir = java.nio.file.Files.createTempDirectory("pqifd").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    // stale codebook: trained over 2/3 of the corpus, the rest appended
    // frozen (the retrainPqIndex fixture)
    Similarity.writePqIndex(e.filter(col("vec_id") % 3 =!= 2), dir)
    Similarity.appendPqIndex(e.filter(col("vec_id") % 3 === 2), dir)
    def store() = (
      spark.read.parquet(s"$dir/codebook").collect().toSet,
      spark.read.parquet(s"$dir/codes").collect().toSet)
    val before = store()
    // a same-distribution slice quantizes about as well as the training
    // set: a generous threshold guarantees the no-op branch
    val sameDist = e.filter(col("vec_id") % 10 === 3)
    val no = Similarity.retrainPqIfDrifted(spark, dir, sameDist, e, thresholdPpm = 3000000L).head()
    assert(!no.getAs[Boolean]("retrained"))
    assert(no.getAs[Long]("inflation_ppm") < 3000000L)
    assert(store() === before, "a below-threshold decision must not touch the store")
    // the unattended loop's idle batch: no drift signal -> "not measured"
    // no-op row, never a fail-fast
    val idle = Similarity
      .retrainPqIfDrifted(spark, dir, e.filter(col("vec_id") < 0), e, thresholdPpm = 1000000L)
      .head()
    assert(!idle.getAs[Boolean]("retrained") && idle.getAs[Long]("n_batch") === 0L)
    assert(store() === before, "an idle batch must not touch the store")
    // a 3x norm shift (an upstream encoder changed scale) inflates the
    // batch's reconstruction error far past the training baseline; the
    // retrained store must equal a clean writePqIndex over the corpus
    val scaled = sameDist.select(
      col("vec_id"),
      transform(col("embedding"), x => x * lit(3.0f)).as("embedding"))
    val yes = Similarity.retrainPqIfDrifted(spark, dir, scaled, e, thresholdPpm = 1500000L).head()
    assert(yes.getAs[Boolean]("retrained"))
    assert(yes.getAs[Long]("inflation_ppm") > 1500000L)
    val clean = java.nio.file.Files.createTempDirectory("pqifdclean").toString
    Similarity.writePqIndex(e, clean)
    assert(
      spark.read.parquet(s"$dir/codebook").collect().toSet ===
        spark.read.parquet(s"$clean/codebook").collect().toSet)
    assert(
      spark.read.parquet(s"$dir/codes").select("vec_id", "subspace", "code").collect().toSet ===
        spark.read.parquet(s"$clean/codes").collect().toSet,
      "the acted-on retrain must equal a clean build over the corpus")
    // and the baseline moved with the retrain: the fresh ruler scores
    // the same-distribution slice at parity again
    val after = Similarity.retrainPqIfDrifted(spark, dir, sameDist, e, thresholdPpm = 3000000L).head()
    assert(!after.getAs[Boolean]("retrained"))
  }

  test("retrainIvfPqIfDrifted: below threshold byte-for-byte no-op; above, store == clean build") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqifd").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 3 =!= 2), dir)
    Similarity.appendIvfPqIndex(e.filter(col("vec_id") % 3 === 2), dir)
    def store() = (
      spark.read.parquet(s"$dir/centroids").collect().toSet,
      spark.read.parquet(s"$dir/codebook").collect().toSet,
      spark.read.parquet(s"$dir/codes").select("vec_id", "subspace", "code", "centroid_id")
        .collect().toSet)
    val before = store()
    val sameDist = e.filter(col("vec_id") % 10 === 3)
    val no = Similarity
      .retrainIvfPqIfDrifted(spark, dir, sameDist, e, thresholdPpm = 3000000L).head()
    assert(!no.getAs[Boolean]("retrained"))
    assert(store() === before, "a below-threshold decision must not touch the store")
    val idle = Similarity
      .retrainIvfPqIfDrifted(spark, dir, e.filter(col("vec_id") < 0), e, thresholdPpm = 1000000L)
      .head()
    assert(!idle.getAs[Boolean]("retrained") && idle.getAs[Long]("n_batch") === 0L)
    // a 3x norm shift retrains BOTH quantizers; the store must equal a
    // clean writeIvfPqIndex over the corpus
    val scaled = sameDist.select(
      col("vec_id"),
      transform(col("embedding"), x => x * lit(3.0f)).as("embedding"))
    val yes = Similarity
      .retrainIvfPqIfDrifted(spark, dir, scaled, e, thresholdPpm = 1500000L).head()
    assert(yes.getAs[Boolean]("retrained"))
    val clean = java.nio.file.Files.createTempDirectory("ivfpqifdclean").toString
    Similarity.writeIvfPqIndex(e, clean)
    val (gc, gb, gcd) = store()
    assert(gc === spark.read.parquet(s"$clean/centroids").collect().toSet)
    assert(gb === spark.read.parquet(s"$clean/codebook").collect().toSet)
    assert(gcd === spark.read.parquet(s"$clean/codes")
      .select("vec_id", "subspace", "code", "centroid_id").collect().toSet,
      "the acted-on retrain must equal a clean composed build")
    // fresh ruler: the same-distribution slice reads parity again
    val after = Similarity
      .retrainIvfPqIfDrifted(spark, dir, sameDist, e, thresholdPpm = 3000000L).head()
    assert(!after.getAs[Boolean]("retrained"))
  }

  test("ivfPqRecallAudit: lossless codebook + exhaustive nProbe -> 1000 milli; tombstones bound truth") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpqrecall").toString
    // 6 unit-norm vectors fanned across the (d0, d1) plane at distinct
    // angles: equal norms make the cosine and L2 rankings agree, and with
    // ksub >= |corpus| every vector seeds its own codebook entry per
    // subspace, so ADC distances are EXACT — at exhaustive nProbe the
    // composed probe has no approximation left and must equal brute force
    def vec(theta: Double): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = math.cos(theta).toFloat
      a(1) = math.sin(theta).toFloat
      a
    }
    val e = (0 until 6).map(i => (i.toLong, vec(i * 0.25))).toDF("vec_id", "embedding")
    Similarity.writeIvfPqIndex(e, dir, nCentroids = 4)
    val nCells = spark.read.parquet(s"$dir/centroids").count().toInt
    val q = e.filter(col("vec_id") < 2)
    def audit(nProbe: Int) = Similarity
      .ivfPqRecallAudit(spark, dir, e, q, k = 3, nProbe = nProbe)
      .collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"), r.getAs[Long]("recall_milli"))))
      .toMap
    val full = audit(nCells)
    assert(full.keySet === Set(0L, 1L))
    full.foreach { case (qid, (ne, nh, rm)) =>
      assert(ne === 3L && nh === 3L && rm === 1000L, s"query $qid: ($ne, $nh, $rm)")
    }
    // a starved probe (1 cell) can only do worse or equal, never better
    audit(1).foreach { case (qid, (_, _, rm)) =>
      assert(rm <= 1000L && rm >= 0L, s"query $qid: $rm")
    }
    // ground truth is bounded by the LIVE id set: tombstone a vector, keep
    // it in the supplied corpus — neither side may see it, so the
    // exhaustive probe still recovers every exact neighbor
    Similarity.deleteFromIndex(Seq(5L).toDF("vec_id"), dir)
    audit(nCells).foreach { case (qid, (ne, nh, rm)) =>
      assert(ne === 3L && nh === 3L && rm === 1000L,
        s"query $qid after tombstone: ($ne, $nh, $rm)")
    }
  }

  test("ingest claim rule: an EMPTY batch 0 wipes a previous run's store (LSH, IVF, PQ)") {
    val s = spark
    import s.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val empty = e.limit(0)
    // IVF: old run trains a quantizer; the new stream's empty batch 0 must
    // retire it — batch 1 retrains fresh and the cells hold only new ids
    val ivfDir = java.nio.file.Files.createTempDirectory("ivfwipe").toString
    Similarity.ingestIvfBatch(e.filter(col("vec_id") < 32), ivfDir, 0L)
    Similarity.ingestIvfBatch(empty, ivfDir, 0L)
    assert(!new java.io.File(s"$ivfDir/params").exists, "empty batch 0 must wipe params")
    Similarity.ingestIvfBatch(
      e.filter(col("vec_id") >= 32).select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
      ivfDir, 1L)
    val ivfIds = spark.read.parquet(s"$ivfDir/cells").select("neighbor_id")
      .collect().map(_.getLong(0)).toSet
    assert(ivfIds.forall(_ >= 1000L), s"old run's vectors leaked: ${ivfIds.filter(_ < 1000L)}")
    // PQ: same rule for the codebook store
    val pqDir = java.nio.file.Files.createTempDirectory("pqwipe").toString
    Similarity.ingestPqBatch(e.filter(col("vec_id") < 32), pqDir, 0L)
    Similarity.ingestPqBatch(empty, pqDir, 0L)
    assert(!new java.io.File(s"$pqDir/params").exists)
    Similarity.ingestPqBatch(
      e.filter(col("vec_id") >= 32).select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
      pqDir, 1L)
    val pqIds = spark.read.parquet(s"$pqDir/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(pqIds.forall(_ >= 1000L))
    // LSH: batch 1 must NOT be deduped against the dead run's corpus
    val lshDir = java.nio.file.Files.createTempDirectory("lshwipe").toString
    val oldDocs = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    graft.ops.Dedup.ingestLshBatch(oldDocs, lshDir, 0L)
    graft.ops.Dedup.ingestLshBatch(oldDocs.limit(0), lshDir, 0L)
    // LSH params are content-free, so the claim REWRITES them; the corpus
    // subtrees are what must be gone
    assert(!new java.io.File(s"$lshDir/docs").exists)
    assert(!new java.io.File(s"$lshDir/bands").exists)
    graft.ops.Dedup.ingestLshBatch(
      Seq((11L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text"),
      lshDir, 1L)
    val kept = spark.read.parquet(s"$lshDir/docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L), s"the exact re-crawl must SURVIVE against a wiped store: $kept")
  }

  test("IVF tombstones + compaction: deleted ids never rank; compaction preserves the probe") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_r")))
      .toSet
    val s = spark
    import s.implicits._
    Similarity.writeIvfIndex(e, dir)
    val base = rows(Similarity.probeIvfIndex(spark, dir, q, k = 5))
    // append exact copies of the queries (they would rank first), then
    // tombstone exactly those: the probe must read as if they never landed
    val copies = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendIvfIndex(copies, dir)
    Similarity.deleteFromIndex(copies.select("vec_id"), dir)
    assert(rows(Similarity.probeIvfIndex(spark, dir, q, k = 5)) == base,
      "tombstoned appends must be invisible to the probe")
    // tombstone a base vector that actually appears in top-k: it must
    // vanish from every query's ranking
    val victim = base.head._3
    Similarity.deleteFromIndex(Seq(victim).toDF("vec_id"), dir)
    val afterDel = rows(Similarity.probeIvfIndex(spark, dir, q, k = 5))
    assert(!afterDel.exists(_._3 == victim), s"deleted vec $victim still ranked")
    // compaction folds generations and physically drops tombstoned rows:
    // probe unchanged, batch lineage gone, tombstones cleared
    Similarity.compactIvfIndex(spark, dir)
    assert(rows(Similarity.probeIvfIndex(spark, dir, q, k = 5)) == afterDel,
      "probe-after-compact must equal probe-before")
    val cells = spark.read.parquet(s"$dir/cells")
    assert(!cells.columns.contains("batch_id"))
    assert(cells.filter(col("neighbor_id") === victim || col("neighbor_id") >= 1000000L).count() == 0L,
      "compaction must physically remove tombstoned rows")
    assert(!new java.io.File(s"$dir/tombstones").exists, "compaction must clear tombstones")
    // a fresh full rebuild over the same path must not inherit stale state
    Similarity.deleteFromIndex(Seq(base.head._3).toDF("vec_id"), dir)
    Similarity.writeIvfIndex(e, dir)
    assert(rows(Similarity.probeIvfIndex(spark, dir, q, k = 5)) == base,
      "a rebuild must clear stale tombstones")
  }

  test("PQ tombstones + compaction: deleted ids never score; compaction preserves the probe") {
    val dir = java.nio.file.Files.createTempDirectory("pqdel").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist")))
      .toSet
    val s = spark
    import s.implicits._
    Similarity.writePqIndex(e, dir)
    val base = rows(Similarity.probePqIndex(spark, dir, q, k = 5))
    val victim = base.head._3
    Similarity.deleteFromIndex(Seq(victim).toDF("vec_id"), dir)
    val afterDel = rows(Similarity.probePqIndex(spark, dir, q, k = 5))
    assert(!afterDel.exists(_._3 == victim) && afterDel != base)
    Similarity.compactPqIndex(spark, dir)
    assert(rows(Similarity.probePqIndex(spark, dir, q, k = 5)) == afterDel)
    assert(spark.read.parquet(s"$dir/codes").filter(col("vec_id") === victim).count() == 0L)
  }

  test("IVF-PQ lifecycle: append surfaces copies, tombstones retract, compact preserves the probe") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 8)
    def rows() = Similarity.probeIvfPqIndex(spark, dir, q, k = 5).collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist")))
      .toSet
    val s = spark
    import s.implicits._
    Similarity.writeIvfPqIndex(e, dir)
    val base = rows()
    assert(base.nonEmpty && base.forall(_._4 >= 0L))
    // exact copies of the queries: identical vector → identical code in
    // the query's own cell → minimal ADC distance; each must enter top-5
    val copies = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendIvfPqIndex(copies, dir)
    val grown = rows()
    (0L until 8L).foreach { qid =>
      assert(grown.exists(r => r._1 == qid && r._3 == qid + 1000000L),
        s"query $qid must see its appended copy in top-5")
    }
    // tombstone the copies: probe reads as if they never landed
    Similarity.deleteFromIndex(copies.select("vec_id"), dir)
    assert(rows() == base, "tombstoned appends must be invisible")
    // compaction folds generations + physically drops tombstoned codes
    Similarity.compactIvfPqIndex(spark, dir)
    assert(rows() == base, "probe-after-compact must equal probe-before")
    assert(spark.read.parquet(s"$dir/codes").filter(col("vec_id") >= 1000000L).count() == 0L)
    // dynamic partition pruning: the broadcast probe side filters the
    // centroid_id-partitioned codes scan — unprobed cells' files never read
    val probedPlan = Similarity.probeIvfPqIndex(spark, dir, q, k = 5)
    probedPlan.count()
    val plan = probedPlan.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2000))
    // param drift fails fast
    val err = intercept[IllegalArgumentException] {
      Similarity.probeIvfPqIndex(spark, dir, q, k = 5, m = 8, ksub = 8, dim = 64)
    }
    assert(err.getMessage.contains("was built with"))
  }

  test("retrainIvfIndex: retrains from live cell content only; equals a clean rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("ivfretrain").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_r")))
      .toSet
    // stale quantizer: build on a slice, append the rest + decoys,
    // tombstone the decoys — live content is then exactly e
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 3 =!= 2), dir)
    Similarity.appendIvfIndex(e.filter(col("vec_id") % 3 === 2), dir)
    val decoys = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendIvfIndex(decoys, dir)
    Similarity.deleteFromIndex(decoys.select("vec_id"), dir)
    Similarity.retrainIvfIndex(spark, dir)
    val clean = java.nio.file.Files.createTempDirectory("ivfclean").toString
    Similarity.writeIvfIndex(e, clean)
    assert(rows(Similarity.probeIvfIndex(spark, dir, q, k = 5)) ==
      rows(Similarity.probeIvfIndex(spark, clean, q, k = 5)))
    // the quantizer itself was retrained (not just re-assigned) and the
    // spent tombstones are gone, so a decoy id could re-insert later
    def cents(p: String) = spark.read.parquet(s"$p/centroids").collect()
      .map(r => (r.getAs[Long]("centroid_id"), r.getSeq[Float](1))).toSet
    assert(cents(dir) == cents(clean), "retrained centroids must equal the clean rebuild's")
    assert(!new java.io.File(s"$dir/tombstones").exists, "retrain must clear spent tombstones")
  }

  test("retrainPqIndex: retrains codebook from live ids' corpus vectors; fails fast on missing ids") {
    val dir = java.nio.file.Files.createTempDirectory("pqretrain").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist")))
      .toSet
    Similarity.writePqIndex(e.filter(col("vec_id") % 3 =!= 2), dir)
    Similarity.appendPqIndex(e.filter(col("vec_id") % 3 === 2), dir)
    val decoys = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendPqIndex(decoys, dir)
    Similarity.deleteFromIndex(decoys.select("vec_id"), dir)
    Similarity.retrainPqIndex(spark, dir, e)
    val clean = java.nio.file.Files.createTempDirectory("pqclean").toString
    Similarity.writePqIndex(e, clean)
    assert(rows(Similarity.probePqIndex(spark, dir, q, k = 5)) ==
      rows(Similarity.probePqIndex(spark, clean, q, k = 5)))
    // a corpus that lacks live ids must fail fast, not silently shrink
    val err = intercept[IllegalArgumentException] {
      Similarity.retrainPqIndex(spark, dir, e.filter(col("vec_id") >= 100))
    }
    assert(err.getMessage.contains("live index ids"))
  }

  test("retrainIvfPqIndex: both quantizers retrain; equals a clean rebuild; fails fast on missing ids") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqretrain").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist")))
      .toSet
    Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 3 =!= 2), dir)
    Similarity.appendIvfPqIndex(e.filter(col("vec_id") % 3 === 2), dir)
    val decoys = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendIvfPqIndex(decoys, dir)
    Similarity.deleteFromIndex(decoys.select("vec_id"), dir)
    Similarity.retrainIvfPqIndex(spark, dir, e)
    val clean = java.nio.file.Files.createTempDirectory("ivfpqclean").toString
    Similarity.writeIvfPqIndex(e, clean)
    assert(rows(Similarity.probeIvfPqIndex(spark, dir, q, k = 5)) ==
      rows(Similarity.probeIvfPqIndex(spark, clean, q, k = 5)))
    // BOTH quantizers retrained to the clean build's values, tombstones spent
    def cents(p: String) = spark.read.parquet(s"$p/centroids").collect()
      .map(r => (r.getAs[Long]("centroid_id"), r.getSeq[Float](1))).toSet
    assert(cents(dir) == cents(clean), "retrained coarse centroids must equal the clean rebuild's")
    def cb(p: String) = spark.read.parquet(s"$p/codebook").collect()
      .map(r => (r.getAs[Long]("subspace"), r.getAs[Long]("code")) -> r.getSeq[Long](2)).toMap
    assert(cb(dir) == cb(clean), "retrained codebook must equal the clean rebuild's")
    assert(!new java.io.File(s"$dir/tombstones").exists, "retrain must clear spent tombstones")
    // a corpus that lacks live ids must fail fast, not silently shrink
    val err = intercept[IllegalArgumentException] {
      Similarity.retrainIvfPqIndex(spark, dir, e.filter(col("vec_id") >= 100))
    }
    assert(err.getMessage.contains("live index ids"))
  }

  test("indexDriftReport: self-batch reads ~1000 milli per cell, a collapsed batch spikes its cell") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdrift").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    Similarity.writeIvfIndex(e, dir)
    // the index's own corpus as the batch: identical distribution, so
    // every populated cell drifts at exactly 1000 milli
    val self = Similarity.indexDriftReport(spark, dir, e).collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getAs[Long]("drift_milli") == 1000L,
        s"cell ${r.getAs[Long]("centroid_id")}: ${r.getAs[Long]("drift_milli")}")
    }
    // a collapsed batch (10 copies of one vector) funnels into one cell:
    // that cell's share becomes ~1e6 ppm, so its drift ratio far exceeds
    // 1000 and every other cell reads 0
    val one = e.filter(col("vec_id") === 3L).limit(1)
    val collapsed = (1 to 9).foldLeft(one)((acc, i) =>
      acc.unionByName(one.withColumn("vec_id", col("vec_id") + i * 1000L)))
    val drift = Similarity.indexDriftReport(spark, dir, collapsed).collect()
      .map(r => r.getAs[Long]("centroid_id") -> r.getAs[Long]("drift_milli")).toMap
    val spiked = drift.values.filter(_ > 1000L)
    assert(spiked.size == 1, s"exactly one cell should spike: $drift")
    assert(drift.values.forall(v => v == 0L || v > 1000L || v == -1L))
  }

  test("PQ index lifecycle: probe equals in-memory; appended copies win; params mismatch refused") {
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist")))
      .toSet
    Similarity.writePqIndex(e, dir)
    assert(
      rows(Similarity.probePqIndex(spark, dir, q, k = 5)) ==
        rows(Similarity.pqTopK(q, e, k = 5)),
      "persisted probe must equal the in-memory PQ ADC")
    // append ≡ rebuild-from-union: the codebook seeds are the ksub
    // LOWEST-id vectors, so appending high-id rows cannot change them —
    // probing the grown index must therefore equal the in-memory ADC over
    // the unioned corpus exactly (codes, distances, ranks)
    val copies = q.withColumn("vec_id", col("vec_id") + 1000000L)
    Similarity.appendPqIndex(copies, dir)
    assert(
      rows(Similarity.probePqIndex(spark, dir, q, k = 5)) ==
        rows(Similarity.pqTopK(q, e.unionByName(copies), k = 5)),
      "grown persisted probe must equal in-memory ADC over the unioned corpus")
    // a probe under different build params must refuse, not score garbage
    val err = intercept[IllegalArgumentException](
      Similarity.probePqIndex(spark, dir, q, k = 5, m = 8))
    assert(err.getMessage.contains("was built with"))
  }

  test("PQ encode: null, short and null-holding embeddings get no codes") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val t = e.schema("embedding").dataType
    val bad = e.filter(col("vec_id") < 3).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      when(col("vec_id") === 0L, lit(null).cast(t))
        .when(col("vec_id") === 1L, slice(col("embedding"), 1, 10))
        .otherwise(transform(col("embedding"), (x, i) => when(i =!= 5, x))).as("embedding"))
    def codes(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("subspace"), r.getAs[Long]("code"))).toSet
    // the codebook seeds are the lowest ids, so the high-id bad rows leave
    // it unchanged: the good vectors' codes are exactly the clean corpus's
    assert(codes(Similarity.pqCodes(e.unionByName(bad))) == codes(Similarity.pqCodes(e)))
  }

  test("persisted cluster map round-trips clusterPairs; keep faces probed from it agree") {
    val dir = java.nio.file.Files.createTempDirectory("clmap").toString
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minHashLsh(d)
    val direct = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.writeClusterMap(d, dir)
    val m = Dedup.readClusterMap(spark, dir)
    assert(m.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == direct)
    // labels from a different LSH geometry are a different clustering —
    // refused, not silently served
    val err = intercept[IllegalArgumentException](
      Dedup.readClusterMap(spark, dir, numHashes = 16))
    assert(err.getMessage.contains("was built with"))
    // the keep/keep-best endgames probed from the map equal the
    // recomputing faces exactly
    assert(
      Dedup.keepFromClusters(d, m).collect().map(_.getLong(0)).toSet ==
        Dedup.keepRepresentatives(d, pairs).collect().map(_.getLong(0)).toSet)
    val score = round(TextAnalysis.qualityScore(col("text")) * 10000, 0).cast("long")
    assert(
      Dedup.keepBestFromClusters(d, m, score).collect().map(_.getLong(0)).toSet ==
        Dedup.keepBestRepresentatives(d, pairs, score).collect().map(_.getLong(0)).toSet)
  }

  test("readability: hand Flesch counts, min-1 clamps, vowel-group syllables") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // 4 words, 2 sentence runs ('.' and '!?'), syllables: the=1,
      // cat=1, sat=1, rhythm=1 (y) -> 4
      (1L, "The cat sat. Rhythm!?"),
      // no terminator: sentences clamps to 1; "audio" = au+io = 2 groups
      (2L, "audio video"),
      // empty text: all counts 0, flesch = 206835 under the clamps
      (3L, ""),
      // null text reads as empty (never size(null) = -1 word counts)
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.readability(docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // flesch = 206835 - (1015*4) div 2 - (84600*4) div 4 = 206835 - 2030 - 84600
    assert(got(1L) === ((4L, 2L, 4L, 206835L - 2030L - 84600L)), got.toString)
    // 2 words, 1 (clamped) sentence, audio=2 + video=2 = 4 syllables:
    // 206835 - 2030 - (84600*4) div 2
    assert(got(2L) === ((2L, 0L, 4L, 206835L - 2030L - 169200L)))
    assert(got(3L) === ((0L, 0L, 0L, 206835L)))
    assert(got(4L) === ((0L, 0L, 0L, 206835L)))
  }

  test("keyphrases: hand RAKE scores, dup-phrase collapse, over-long run dropped, singletons") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // phrases: [deep learning], [deep net] -> deep deg 4 freq 2,
      // learning/net deg 2 freq 1 -> wscores all 2e6 -> both phrases 4e6
      (1L, "deep learning of the deep net"),
      // the same phrase twice collapses with n_occurrences = 2
      (2L, "a deep net is a deep net"),
      // a 5-token stopword-free run exceeds maxPhraseLen=4: dropped
      // entirely; the singleton after 'the' survives
      (3L, "alpha beta gamma delta epsilon the omega"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.keyphrases(docs, topK = 5, maxPhraseLen = 4)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got((1L, "deep learning")) === ((2L, 1L, 4000000L, 1L)), got.toString)
    assert(got((1L, "deep net")) === ((2L, 1L, 4000000L, 2L)), "tie breaks by phrase asc")
    assert(got((2L, "deep net")) === ((2L, 2L, 4000000L, 1L)), "dup phrase collapses, scored once")
    assert(got.keySet.filter(_._1 == 3L) === Set((3L, "omega")),
      "the over-long run is dropped; the surviving singleton scores")
    assert(got((3L, "omega")) === ((1L, 1L, 1000000L, 1L)))
  }

  test("collocations: hand-computed integer lift, minCount prunes the tail") {
    val s = spark
    import s.implicits._
    // "new york" x6 in one doc: bigrams (new,york) x6 and (york,new) x5;
    // N=12, c_new=c_york=6 -> lift(new,york)=1000*12*6/36=2000,
    // lift(york,new)=1000*12*5/36=1666 (integer div)
    val docs = Seq((1L, Seq.fill(6)("new york").mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, minCount = 5, k = 10).collect()
      .map(r =>
        (r.getAs[String]("x"), r.getAs[String]("y"), r.getAs[Long]("c_xy"),
          r.getAs[Long]("lift_milli")))
      .toSeq
    assert(got == Seq(("new", "york", 6L, 2000L), ("york", "new", 5L, 1666L)))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged by id + fingerprint") {
    val s = spark
    import s.implicits._
    val prev = Seq((1L, "a doc"), (2L, "b doc"), (3L, "c doc")).toDF("doc_id", "text")
    val cur = Seq((2L, "b doc"), (3L, "c doc EDITED"), (4L, "d doc")).toDF("doc_id", "text")
    val got = graft.ops.Corpus.snapshotDiff(prev, cur).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
      .toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
  }

  test("unigramRarity: hand-computed integer weights, rare tokens dominate") {
    val s = spark
    import s.implicits._
    // corpus: a×3, b×1, c×1 -> N=5; weights: a -> 5 div 3 = 1, b/c -> 5
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramRarity(docs).collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("rarity_sum"), r.getAs[Long]("rarity_milli"))))
      .toMap
    assert(got(1L) == ((3L, 7L, 2333L))) // 2*1 + 1*5 = 7; 7000 div 3
    assert(got(2L) == ((2L, 6L, 3000L))) // 1*1 + 1*5 = 6; 6000 div 2
    // the doc of ubiquitous tokens scores below the rare-token doc
    assert(got(1L)._3 < got(2L)._3)
  }

  test("bigramRarity: hand-computed conditional weights; fluent beats shuffled") {
    val s = spark
    import s.implicits._
    // bigrams: (a,b)x2 from docs 1+2, (b,a)x1, (a,c)x1 -> c1(a)=3, c1(b)=1
    // weights: (a,b) -> 3 div 2 = 1, (b,a) -> 1 div 1 = 1, (a,c) -> 3 div 1 = 3
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "a c"), (4L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramRarity(docs).collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("lm_sum"), r.getAs[Long]("lm_milli"))))
      .toMap
    assert(got(1L) == ((2L, 2L, 1000L))) // (a,b)+(b,a): 1 + 1
    assert(got(2L) == ((1L, 1L, 1000L))) // (a,b): 1
    assert(got(3L) == ((1L, 3L, 3000L))) // (a,c) is the surprising continuation
    assert(!got.contains(4L), "a one-token doc has no bigrams and no score")
    // the doc of predictable continuations scores below the surprising one
    assert(got(1L)._3 < got(3L)._3)
  }

  test("trigramBackoff: hand-computed tiers — trigram, bigram, unigram, OOV") {
    val s = spark
    import s.implicits._
    // ref counts: tri (a,b,c)=1 (b,c,a)=1 (c,a,b)=1 (a,b,d)=1; bi ab=2 bc=1
    // ca=1 bd=1; uni a=2 b=2 c=1 d=1; N=6
    val ref = Seq((100L, "a b c a b d")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c"),   // tri tier: 1000000*1 div c(ab)=2 -> 500000
      (2L, "c b d"),   // bi tier:  400000*c(bd)=1 div c(b)=2 -> 200000
      (3L, "x y d"),   // uni tier: 160000*c(d)=1 div 6 -> 26666
      (4L, "x y z"),   // OOV: z unseen -> 0
      (5L, "a b c d"), // (a,b,c)=500000 tri + (b,c,d) uni-on-d 26666 -> avg 263333
      (6L, "a b")      // < 3 tokens: no scoreable trigram, absent from output
    ).toDF("doc_id", "text")
    val got = TextAnalysis.trigramBackoff(docs, ref).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!got.contains(6L))
    def row(id: Long) = {
      val r = got(id)
      (r.getAs[Long]("n_trigrams"), r.getAs[Long]("n_tri"), r.getAs[Long]("n_bi"),
        r.getAs[Long]("n_uni"), r.getAs[Long]("n_oov"), r.getAs[Long]("sb_micro"))
    }
    assert(row(1L) == ((1L, 1L, 0L, 0L, 0L, 500000L)))
    assert(row(2L) == ((1L, 0L, 1L, 0L, 0L, 200000L)))
    assert(row(3L) == ((1L, 0L, 0L, 1L, 0L, 26666L)))
    assert(row(4L) == ((1L, 0L, 0L, 0L, 1L, 0L)))
    assert(row(5L) == ((2L, 1L, 0L, 1L, 0L, 263333L)))
  }

  test("winnowFingerprints: shared-run guarantee, short docs, determinism") {
    val s = spark
    import s.implicits._
    val run = "alpha beta gamma delta epsilon zeta" // k+w-1 = 6 words
    val docs = Seq(
      (1L, s"one unrelated prefix here $run"),
      (2L, s"$run and a totally different ending follows"),
      (3L, "completely disjoint text with zero overlap anywhere at all"),
      (4L, "too short"), // < k tokens: no grams, absent from output
      (5L, "exactly three words") // 1 gram < w: a single min-of-all fp
    ).toDF("doc_id", "text")
    val fps = TextAnalysis
      .winnowFps(docs)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("fp")).toSet }
    // winnowing guarantee: a shared substring of >= k+w-1 words yields at
    // least one common fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    assert(!fps.contains(4L))
    assert(fps(5L).size == 1)
    val agg = TextAnalysis.winnowFingerprints(docs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_fps"), r.getAs[String]("fp_digest"))))
      .toMap
    assert(agg(5L) == ((1L, 1L, agg(5L)._3)))
    agg.foreach { case (id, (ng, nf, _)) => assert(nf <= ng, s"doc $id: $nf fps > $ng grams") }
    // identical text -> identical digest
    val twice = TextAnalysis
      .winnowFingerprints(Seq((7L, run), (8L, run)).toDF("doc_id", "text"))
      .collect()
      .map(_.getAs[String]("fp_digest"))
    assert(twice.distinct.length == 1)
  }

  test("bpeMerges: the classic low/lower/newest/widest fixture learns (w,e), (l,o), (s,t)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "low low low lower lower newest newest newest newest widest")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, nMerges = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (w,e) rides lower(2) + newest(4) = 6; round 2: 5-way tie
    // breaks to "l o" (pair-string asc); round 3: "s t" beats "t </w>"
    assert(m.toSeq == Seq((1L, "w", "e", 6L), (2L, "l", "o", 5L), (3L, "s", "t", 5L)), m.toSeq)
    // applying the merges: low→[lo,w,</w>]=3, lower→[lo,we,r,</w>]=4,
    // newest→[n,e,we,st,</w>]=5, widest→[w,i,d,e,st,</w>]=6 → 18
    val cnt = TextAnalysis
      .bpeTokenCount(
        Seq((9L, "low lower newest widest")).toDF("doc_id", "text"),
        Seq(("w", "e"), ("l", "o"), ("s", "t")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cnt.toSeq == Seq((9L, 18L)), cnt.toSeq)
    // the chunked path (merge list longer than `chunk`) materializes
    // between chunks but must count identically — tokenizer-scale lists
    // ride this branch
    val cntChunked = TextAnalysis
      .bpeTokenCount(
        Seq((9L, "low lower newest widest")).toDF("doc_id", "text"),
        Seq(("w", "e"), ("l", "o"), ("s", "t")),
        chunk = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cntChunked.toSeq == Seq((9L, 18L)), cntChunked.toSeq)
  }

  test("bpeMergesBatched: one batched round equals the sequential merges when picks don't interact") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "low low low lower lower newest newest newest newest widest")).toDF("doc_id", "text")
    val seq3 = TextAnalysis.bpeMerges(docs, nMerges = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // greedy disjoint picks over the ROUND-0 counts: (w,e) first; every
    // e-carrier is then banned, so (l,o) claims rank 2 and (s,t) rank 3 —
    // exactly the sequential merges, because no pick's rewrite creates or
    // destroys another pick's occurrences on this fixture
    val bat = TextAnalysis.bpeMergesBatched(docs, nMerges = 3, batch = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(bat == seq3, s"batched $bat vs sequential $seq3")
    // pair_count differs by contract (the round's shared pre-rewrite
    // table), so compare the learned VOCABULARY effect instead: applying
    // either merge list tokenizes identically
    val apply9 = Seq((9L, "low lower newest widest")).toDF("doc_id", "text")
    val cntSeq = TextAnalysis
      .bpeTokenCount(apply9, seq3.map(t => (t._2, t._3)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cntBat = TextAnalysis
      .bpeTokenCount(apply9, bat.map(t => (t._2, t._3)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cntSeq == cntBat && cntSeq == Seq((9L, 18L)), s"$cntSeq vs $cntBat")
  }

  test("bpeMergesBatched: batch = 1 is byte-identical to the sequential face; interacting picks skip") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "abab abab cdcd")).toDF("doc_id", "text")
    val seq2 = TextAnalysis.bpeMerges(docs, nMerges = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val bat1 = TextAnalysis.bpeMergesBatched(docs, nMerges = 2, batch = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(bat1 == seq2, s"batch=1 $bat1 vs sequential $seq2")
    // batch=2 on ·a·b·a·b·</w>·: pick 1 = (a,b); (b,a) shares BOTH symbols
    // and is skipped, so pick 2 falls to the best {a,b}-free pair — the
    // cd words' (c,d) — never a same-round re-pick of overlapping text
    val bat2 = TextAnalysis.bpeMergesBatched(docs, nMerges = 2, batch = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(bat2 == Seq((1L, "a", "b"), (2L, "c", "d")), bat2.toString)
  }

  test("bpeMergesBatched: a round is ONE aggregate + ONE bounded collect, not `batch` probes") {
    val s = spark
    import s.implicits._
    // eight disjoint-alphabet words with strictly decreasing counts, so
    // each of the two batch=4 rounds picks exactly 4 non-interacting
    // merges: round 1 the char pairs (the (x,</w>) twins tie but lose the
    // pair-asc tiebreak and are then symbol-banned); round 2 (ab,</w>)
    // first, which bans the SHARED `</w>` symbol for the round, so the
    // remaining picks fall to the unmerged char pairs
    val words = Seq("ab" -> 9, "cd" -> 8, "ef" -> 7, "gh" -> 6,
      "ij" -> 5, "kl" -> 4, "mn" -> 3, "op" -> 2)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val m =
      try {
        val r = TextAnalysis.bpeMergesBatched(docs, nMerges = 8, batch = 4).collect()
        org.apache.spark.graft.TestShim.drainListenerBus(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(m.map(r => (r.getString(1), r.getString(2))).toSeq == Seq(
      ("a", "b"), ("c", "d"), ("e", "f"), ("g", "h"),
      ("ab", "</w>"), ("i", "j"), ("k", "l"), ("m", "n")), m.mkString(","))
    // job budget: the word-table checkpoint (2 — AQE materializes the
    // groupBy's shuffle stage as its own job) + per round the count
    // checkpoint (2, same AQE split), ONE prefix collect (1), and the
    // vocabulary-rewrite checkpoint (1) = 2 + 2·4. The retired per-pick
    // picker paid `batch` sequential collect jobs per round (16 total
    // here, 64 per round at tokenizer batch sizes) — the bound fails if
    // any per-pick probing creeps back in
    info(s"jobs for 2 batched rounds: ${jobs.get()}")
    assert(jobs.get() <= 10, s"driver-side greedy must not re-probe per pick: ${jobs.get()} jobs")
  }

  test("bpeMerges: a fully-merged one-char word survives later rounds (no pairs, no crash)") {
    val s = spark
    import s.implicits._
    // 'a' x3, 'b' x2: round 1 learns (a, </w>) and collapses word 'a' to a
    // SINGLE symbol; round 2 must still run over the pairless word
    val docs = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, nMerges = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1L, "a", "</w>", 3L), (2L, "b", "</w>", 2L)), m.toSeq)
  }

  test("bpeMerges: immediately adjacent occurrences merge across rounds (documented replace semantics)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "abab")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, nMerges = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // ·a·b·a·b·</w>·: (a,b) counts 2 but the occurrences share a delimiter,
    // so round 1 merges the first only; round 2 picks (a,b) again at 1
    assert(m.toSeq == Seq((1L, "a", "b", 2L), (2L, "a", "b", 1L)), m.toSeq)
  }

  test("dupSpans: shared passages become maximal 1-based spans; self-repeats don't count") {
    val s = spark
    import s.implicits._
    val passage = "the quick brown fox jumps over the lazy dog again" // 10 tokens
    val docs = Seq(
      // passage at tokens 3-12: every 5-gram inside it is shared with doc 2
      (1L, s"unique opening here $passage trailing words nobody else has"),
      (2L, s"$passage entirely different continuation text follows here now"),
      (3L, "wholly unrelated document with no shared five gram runs at all"),
      // doc 4 repeats ITS OWN 5-gram twice but shares nothing cross-doc
      (4L, "aa bb cc dd ee xx aa bb cc dd ee")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .dupSpans(docs, n = 5, minTokens = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = got.groupBy(_._1)
    // doc 1: passage occupies tokens 4..13 -> one maximal span, exactly that
    assert(byDoc(1L).toSeq == Seq((1L, 4L, 13L, 10L)))
    // doc 2: passage at tokens 1..10
    assert(byDoc(2L).toSeq == Seq((2L, 1L, 10L, 10L)))
    // docs 3 and 4 emit nothing: no cross-doc duplicated grams
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
  }

  test("dupSpans: runs below minTokens are suppressed; two shared passages stay separate spans") {
    val s = spark
    import s.implicits._
    val p1 = "one two three four five six seven eight" // 8 tokens
    val p2 = "red orange yellow green blue indigo violet ultra" // 8 tokens
    val docs = Seq(
      (1L, s"$p1 QQa QQb QQc QQd $p2"), // unique 4-token gap: grams bridging it aren't shared
      (2L, s"$p1 ZZa ZZb ZZc ZZd $p2"),
      (3L, "alpha beta gamma delta epsilon unique0 unique1 unique2 unique3"),
      (4L, "alpha beta gamma delta epsilon other0 other1 other2 other3") // shared run = 5 < minTokens
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .dupSpans(docs, n = 5, minTokens = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // two disjoint 8-token spans per doc (positions 1-8 and 13-20); the
    // 5-token shared prefix of docs 3/4 dies under minTokens = 8
    assert(got == Set(
      (1L, 1L, 8L, 8L), (1L, 13L, 20L, 8L),
      (2L, 1L, 8L, 8L), (2L, 13L, 20L, 8L)))
  }

  test("stripDupSpans: excises spans everywhere, passes untouched docs through, empties full clones") {
    val s = spark
    import s.implicits._
    val passage = "the quick brown fox jumps over the lazy dog again" // 10 tokens
    val docs = Seq(
      (1L, s"unique opening here $passage trailing words nobody else has"),
      (2L, s"$passage entirely different continuation text follows here now"),
      (3L, "wholly unrelated document with no shared five gram runs at all"),
      (4L, passage), // full clone pair with doc 5: both collapse to empty
      (5L, passage)
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .stripDupSpans(docs, n = 5, minTokens = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got.size == 5, "the whole corpus must come back")
    assert(got(1L) == (("unique opening here trailing words nobody else has", 10L)))
    assert(got(2L) == (("entirely different continuation text follows here now", 10L)))
    assert(got(3L) == (("wholly unrelated document with no shared five gram runs at all", 0L)))
    assert(got(4L) == (("", 10L)))
    assert(got(5L) == (("", 10L)))
  }

  test("stripDupSpans: null-text docs land as empty clean_text with n_removed = 0, not null") {
    val s = spark
    import s.implicits._
    val passage = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq(
      (1L, Some(s"$passage first ending alpha")),
      (2L, Some(s"$passage second finale beta")),
      (3L, None) // null text: must pass through clean, not poison n_removed
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .stripDupSpans(docs, n = 5, minTokens = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(3L) == (("", 0L)), s"null text must land as ('', 0), got ${got(3L)}")
    assert(got(1L)._2 == 10L && got(2L)._2 == 10L)
  }

  test("probeDupSpans: a re-inserted doc_id is not marked by its own stale postings") {
    val s = spark
    import s.implicits._
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa" // 10 tokens
    val history = Seq(
      (1L, s"$passage original continuation text here now"),
      (2L, "unrelated history document sharing nothing with anything else at all")
    ).toDF("doc_id", "text")
    // batch re-crawls doc 1 VERBATIM: in dupSpans(history UNION batch)
    // the doc appears once, so nothing marks it — probe must agree
    val batch = Seq((1L, s"$passage original continuation text here now")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_gram_reins").toString + "/idx"
    TextAnalysis.writeGramIndex(history, path)
    val got = TextAnalysis.probeDupSpans(s, path, batch).collect()
    assert(got.isEmpty, s"re-inserted doc self-marked: ${got.toSeq}")
    // but a SECOND history doc holding the passage still marks the re-crawl
    TextAnalysis.appendGramIndex(
      Seq((7L, s"other holder of $passage right here")).toDF("doc_id", "text"), path)
    val marked = TextAnalysis.probeDupSpans(s, path, batch).collect()
    assert(marked.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 1L, 10L)))
    // a re-crawl SHORTER than n tokens has no postings of its own, yet its
    // stale postings must still retire: doc 1's new text is 2 tokens, so a
    // batch-mate holding the passage sees it only via doc 7, not doc 1 —
    // and the union rebuild agrees (doc 1 appears once, as the short text)
    val shortRecrawl = Seq(
      (1L, "gone now"),
      (9L, s"fresh carrier of $passage closing words")).toDF("doc_id", "text")
    val viaShort = TextAnalysis.probeDupSpans(s, path, shortRecrawl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rebuilt = TextAnalysis
      .dupSpans(
        Seq(
          (1L, "gone now"),
          (2L, "completely unrelated history document with nothing shared anywhere at all"),
          (7L, s"other holder of $passage right here"),
          (9L, s"fresh carrier of $passage closing words")).toDF("doc_id", "text"))
      .filter(col("doc_id") === 9L || col("doc_id") === 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaShort == rebuilt, s"short re-crawl parity: probe=$viaShort rebuild=$rebuilt")
  }

  test("gram index lifecycle: probe == union-rebuild on batch; tombstones retract; compact preserves") {
    val s = spark
    import s.implicits._
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa" // 10 tokens
    val history = Seq(
      (1L, s"history prefix words $passage history suffix words here"),
      (2L, "completely unrelated history document with nothing shared anywhere at all")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, s"$passage brand new continuation text follows here"), // 10-token span vs history
      (101L, "fresh document sharing nothing with anything else anywhere"),
      (102L, "twin batch doc repeated verbatim inside this same batch exactly"),
      (103L, "twin batch doc repeated verbatim inside this same batch exactly")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_gram_spec").toString + "/idx"
    TextAnalysis.writeGramIndex(history, path)
    def probe() = TextAnalysis
      .probeDupSpans(s, path, batch)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val expected = TextAnalysis
      .dupSpans(history.unionAll(batch))
      .filter(col("doc_id") >= 100L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val base = probe()
    assert(base == expected, "probe must equal the union rebuild restricted to the batch")
    // doc 100's span is the shared passage; batch twins mark each other
    assert(base.contains((100L, 1L, 10L)))
    assert(base.exists(_._1 == 102L) && base.exists(_._1 == 103L))
    assert(!base.exists(_._1 == 101L))
    // a decoy holding doc 101's text would wrongly mark it whole...
    val decoy = Seq((900L, "fresh document sharing nothing with anything else anywhere"))
      .toDF("doc_id", "text")
    TextAnalysis.appendGramIndex(decoy, path)
    assert(probe().exists(_._1 == 101L), "appended decoy must mark its twin")
    // ...until tombstoned (visible pre-compact) and compacted away
    graft.ops.Similarity.deleteFromIndex(decoy.select("doc_id"), path, idCol = "doc_id")
    assert(probe() == base, "tombstoned decoy must stop matching immediately")
    TextAnalysis.compactGramIndex(s, path)
    assert(probe() == base, "compaction must not change probe results")
  }

  test("crossDupSpans: benchmark-sourced spans only; corpus-internal dups don't mark") {
    val s = spark
    import s.implicits._
    val evalq = "what is the capital of france and when was it founded exactly" // 12 tokens
    val benchmark = Seq((9000L, evalq)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"some training prose then $evalq and more prose after it"),
      (2L, "twin corpus doc repeated verbatim against its own twin exactly"),
      (3L, "twin corpus doc repeated verbatim against its own twin exactly"),
      (4L, "entirely unrelated training document with no overlap at all here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .crossDupSpans(corpus, benchmark, n = 5, minTokens = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: the leaked question occupies tokens 5..16 -> exactly that span
    assert(got.toSeq == Seq((1L, 5L, 16L, 12L)))
    // docs 2/3 duplicate each other but NOT the benchmark: unmarked
  }

  test("winnowReusePairs: overlapping docs pair up; boilerplate fps are df-capped") {
    val s = spark
    import s.implicits._
    val run = "the quick brown fox jumps over the lazy dog again and again"
    val boiler = "all rights reserved contact the webmaster for details today"
    val docs = Seq(
      (1L, s"unique preamble one $run"),
      (2L, s"$run plus some unique trailing content two"),
      (3L, "entirely different text about something else altogether here now"),
      // boilerplate run in many docs: its fps exceed dfCap=3 and must not pair
      (10L, s"alpha filler $boiler"),
      (11L, s"beta filler $boiler"),
      (12L, s"gamma filler $boiler"),
      (13L, s"delta filler $boiler"),
      (14L, s"epsilon filler $boiler")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis
      .winnowReusePairs(docs, minShared = 2, dfCap = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 2L)), s"shared run must pair: $pairs")
    assert(
      pairs.forall { case (a, b) => a < 10L && b < 10L },
      s"df-capped boilerplate docs must not pair: $pairs")
  }

  test("prefixGroups: shared 8-token prefixes group; divergent and short docs don't") {
    val s = spark
    import s.implicits._
    val pre = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"$pre then totally different tail content here"),
      (2L, s"$pre and another divergent continuation follows now"),
      (3L, "a wholly unrelated document with eight tokens too"),
      (4L, "short doc"), // < 8 tokens: full-token-list fingerprint
      (5L, "short doc"),
      (6L, "short doc but longer than the template pair")
    ).toDF("doc_id", "text")
    val got = Dedup.prefixGroups(docs).collect()
      .map(r => r.getAs[Long]("min_doc_id") -> r.getAs[Long]("n_docs"))
      .toMap
    assert(got == Map(1L -> 2L, 4L -> 2L), s"got $got")
  }

  test("manifest: order-independent signature, content change flips it, counts intact") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "a b", "s1"), (2L, "c d e", "s1"), (3L, "x", "s2"))
      .toDF("doc_id", "text", "source")
    val b = Seq((3L, "x", "s2"), (2L, "c d e", "s1"), (1L, "a b", "s1")) // permuted
      .toDF("doc_id", "text", "source").repartition(7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Corpus.manifest(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
    val ma = rows(a)
    assert(ma == rows(b), "manifest must not depend on row order or partitioning")
    assert(ma("s1")._1 == 2L && ma("s1")._2 == 5L && ma("s1")._3 == 8L)
    // one character changes: totals can collide, the signature cannot
    val c = Seq((1L, "a b", "s1"), (2L, "c d f", "s1"), (3L, "x", "s2"))
      .toDF("doc_id", "text", "source")
    val mc = rows(c)
    assert(mc("s1")._2 == ma("s1")._2 && mc("s1")._4 != ma("s1")._4)
    // re-keying a doc changes the signature even with identical text
    val d = Seq((9L, "a b", "s1"), (2L, "c d e", "s1"), (3L, "x", "s2"))
      .toDF("doc_id", "text", "source")
    assert(rows(d)("s1")._4 != ma("s1")._4)
  }

  test("dedupSavings: non-representative token mass per source, singletons free") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c", "s1"),
      (2L, "a b cc", "s1"), // near-dup of 1, 3 tokens of dup mass
      (3L, "x", "s2")
    ).toDF("doc_id", "text", "source")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val got = Dedup.dedupSavings(docs, clusters).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Long]("tokens_total"), r.getAs[Long]("tokens_dup"),
          r.getAs[Long]("savings_milli"))))
      .toMap
    assert(got("s1") == ((2L, 1L, 6L, 3L, 500L)))
    assert(got("s2") == ((1L, 0L, 1L, 0L, 0L)))
  }

  test("exactGroups finds exact duplicates only") {
    val g = Dedup.exactGroups(fixture).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("n_docs") == 2)
    assert(g.head.getAs[Long]("min_doc_id") == 1L)
  }

  test("minHashLsh surfaces near-dups and excludes unrelated docs") {
    val pairs = Dedup
      .minHashLsh(fixture, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simHash: identical docs equal; near-dups close in Hamming distance") {
    val sh = Dedup.simHash(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
  }

  test("ngramJaccard scores the near-dup pair high and skips unrelated") {
    val rows = Dedup.ngramJaccard(fixture, threshold = 0.5).collect()
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val exact = rows
      .find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 4L)
      .get
    assert(exact.getAs[Double]("jaccard") == 1.0)
  }

  private lazy val vecFixture = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.5f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.5f)), // identical to 1
      (3L, Array(0.9f, 0.1f, 0.0f, 0.4f)), // close to 1
      (4L, Array(-1.0f, 0.5f, -0.5f, 0.0f)) // far
    ).toDF("vec_id", "embedding")
  }

  test("embeddingCosine finds identical/near vectors within sign buckets") {
    val pairs = Dedup
      .embeddingCosine(vecFixture, threshold = 0.99)
      .collect()
      .map(r => ((r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")), r.getAs[Double]("cosine")))
      .toMap
    assert(pairs(((1L, 2L))) == 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("bruteForceTopK ranks the identical vector first") {
    val top = Similarity
      .bruteForceTopK(vecFixture.filter(col("vec_id") === 1), vecFixture, k = 2)
      .collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(top.head.getAs[Long]("neighbor_id") == 2L)
    assert(top(1).getAs[Long]("neighbor_id") == 3L)
  }

  test("pcaTopDirection + removeTopComponent: dominant axis found, removed, variance share high") {
    val s = spark
    import s.implicits._
    // variance concentrated on axis 0 (spread ±1), tiny jitter on axis 1
    val embs = (0 until 20).map { i =>
      val sign = if (i % 2 == 0) 1f else -1f
      (i.toLong, Seq(sign * (1f + (i % 3) * 0.1f), (i % 5) * 0.01f, 0f, 0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val top = Similarity.pcaTopDirection(embs, iters = 12, dim = 4).collect()
      .map(r => r.getAs[Long]("pos") -> ((r.getAs[Long]("loading_micro"), r.getAs[Long]("anisotropy_ppm"))))
      .toMap
    // canonical sign: first nonzero loading positive; axis 0 dominates
    assert(top(0L)._1 == 1000000L, s"axis-0 loading ${top(0L)._1}")
    assert(math.abs(top(1L)._1) < 100000L && top(2L)._1 == 0L && top(3L)._1 == 0L)
    assert(top(0L)._2 > 900000L, s"anisotropy ${top(0L)._2} should be > 90%")
    // removal collapses axis 0 to (near-)zero, leaves axis-1 content alone
    val after = Similarity.removeTopComponent(embs, iters = 12, dim = 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("pos")) -> r.getAs[Long]("c_milli"))
      .toMap
    (0 until 20).foreach { i =>
      assert(math.abs(after((i.toLong, 0L))) <= 150L,
        s"vec $i axis-0 residual ${after((i.toLong, 0L))}")
    }
    // exactness spot check: c = x - (x·v)v/(v·v) in trunc integer math
    assert(after((0L, 2L)) == 0L && after((0L, 3L)) == 0L)
    // fit-once/apply-many: a precomputed fit reproduces the self-fit bit-for-bit
    val fit = Similarity.fitTopDirection(embs, iters = 12, dim = 4)
    assert(fit._1.zipWithIndex.forall { case (x, i) => x == top(i.toLong)._1 } && fit._2 == top(0L)._2)
    val fitted = Similarity.removeTopComponent(embs, iters = 12, dim = 4, fit = Some(fit._1))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("pos")) -> r.getAs[Long]("c_milli"))
      .toMap
    assert(fitted == after, "precomputed-fit apply must equal the self-fitting face")
  }

  test("debiasedAnnTopK: exact scores, bucket-restricted candidates, contiguous ranks") {
    val s = spark
    import s.implicits._
    // dominant axis 0 (the component ABTT strips), content on axes 1-2
    val embs = (0 until 24).map { i =>
      val sign = if (i % 2 == 0) 1f else -1f
      (i.toLong,
        Seq(sign * 2f, (i % 4) * 0.5f - 0.75f, ((i / 4) % 3) * 0.4f - 0.4f, 0.1f * (i % 3)),
        0)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity
      .debiasedTopK(embs, col("vec_id") < 4, k = 23, iters = 12, dim = 4)
      .collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cos_r"))
      .toMap
    val ann = Similarity
      .debiasedAnnTopK(embs, col("vec_id") < 4, k = 5, bits = 2, iters = 12, dim = 4)
      .collect()
    assert(ann.nonEmpty)
    // ANN restricts the CANDIDATE set, never the arithmetic: every emitted
    // score equals the exact all-pairs score for that pair bit-for-bit
    ann.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(exact(key) == r.getAs[Double]("cos_r"), s"score drift at $key")
    }
    // per-query ranks are 1..n contiguous and ordered by (cos desc, id asc)
    ann.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length), s"ranks for $q")
      val keys = sorted.map(r => (-r.getAs[Double]("cos_r"), r.getAs[Long]("neighbor_id")))
      assert(keys.toSeq == keys.sorted.toSeq, s"order for $q")
      assert(rows.length <= 5)
    }
    // multi-probe never duplicates a pair (a candidate lives in ONE bucket)
    val pairs = ann.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(pairs.distinct.length == pairs.length)
  }

  test("groupAffinity: aligned groups read 1, orthogonal 0, centroids average members") {
    val s = spark
    import s.implicits._
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0.5f, 0f, 0f), 0),   // group 0 centroid direction (2000, 500, 0, 0)
      (2L, Seq(2f, 0f, 0f, 0f), 1),     // group 1 parallel to x: high cos with 0
      (3L, Seq(0f, 0f, 1f, 0f), 2),     // group 2 orthogonal to both
      (4L, Seq(0f, 0f, 0f, 1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.groupAffinity(embs).collect()
      .map(r => (r.getAs[Int]("group_a"), r.getAs[Int]("group_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Double]("cos_r"))))
      .toMap
    assert(got.keySet == Set((0, 1), (0, 2), (1, 2)))
    assert(got((0, 1))._1 == 2L && got((0, 1))._2 == 1L)
    // cos((2000,500,0,0),(2000,0,0,0)) = 2000/sqrt(2000²+500²) = 0.970143
    assert(got((0, 1))._3 == 0.970143)
    assert(got((0, 2))._3 == 0.0 && got((1, 2))._3 == 0.0)
  }

  test("hardNegatives: same-label near-copy excluded, different-label confusable ranks first") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f), 0),      // query
      (1L, Seq(0.99f, 0.14f, 0f), 0), // same label — the near-copy MUST not appear
      (2L, Seq(0.95f, 0.31f, 0f), 1), // different label, most similar valid negative
      (3L, Seq(0f, 1f, 0f), 1),
      (4L, Seq(-1f, 0f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity
      .hardNegatives(corpus.filter(col("vec_id") === 0), corpus, k = 3, nCentroids = 2, nProbe = 2)
      .collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L, 4L))
    assert(got.forall(_.getAs[Int]("neighbor_label") != 0))
    assert(got.head.getAs[Double]("cos_r") > 0.9)
  }

  test("projectMilli: md5-parity signs match MessageDigest; clusters survive the cut") {
    val s = spark
    import s.implicits._
    // formula cross-check on a one-hot vector: proj[j] = 1000 · s(i0, j)
    def sign(i: Int, j: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (h.charAt(0) <= '7') 1L else -1L
    }
    val oneHot = Array.fill(64)(0f).updated(5, 1f)
    val got = Similarity.projectMilli(Seq((1L, oneHot)).toDF("vec_id", "embedding"))
      .select("proj_milli").head().getSeq[Long](0)
    assert(got == (0 until 16).map(j => 1000L * sign(5, j)))
    // JL preservation: two tight, well-separated clusters; every vector's
    // projected nearest neighbor is a cluster-mate
    val rnd = new scala.util.Random(7)
    def noisy(base: Array[Float]) = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val cA = Array.tabulate(64)(i => if (i < 32) 1f else 0f)
    val cB = Array.tabulate(64)(i => if (i >= 32) 1f else 0f)
    val vecs = (0 until 6).map(i => (i.toLong, noisy(cA))) ++
      (6 until 12).map(i => (i.toLong, noisy(cB)))
    val proj = Similarity.projectMilli(vecs.toDF("vec_id", "embedding"))
      .select(col("vec_id"), transform(col("proj_milli"), x => x.cast("float")).as("embedding"))
    val nn = Similarity.bruteForceTopK(proj, proj, k = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(nn.length == 12)
    nn.foreach { case (q, n) =>
      assert((q < 6) == (n < 6), s"projected NN of $q crossed clusters to $n")
    }
  }

  test("projectedTopK: full pool equals brute force; tight pool keeps top-1 on clusters") {
    val s = spark
    import s.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 8)
    val n = e.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_r")))
      .toSet
    // bits = 0 (single bucket) + pool = whole corpus → the rerank IS
    // exact brute force
    assert(
      rows(Similarity.projectedTopK(q, e, k = 5, pool = n, bits = 0)) ==
        rows(Similarity.bruteForceTopK(q, e, k = 5)),
      "full-pool projected rerank must equal brute force")
    // tight pool at the default sign-bucketing: where neighborhood
    // structure EXISTS (clusters), cluster members share their projected
    // sign pattern, so the exact top-1 survives both the 64→16 cut and
    // the 2^4-bucket restriction through a 15-candidate pool. (The
    // parquet fixture is near-uniform noise — top-1 cosine ~0.35 — which
    // is precisely where JL distortion can reorder near-ties; the
    // full-pool equivalence above is the contract there.)
    val rnd = new scala.util.Random(11)
    def noisy(base: Array[Float]) = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val cA = Array.tabulate(64)(i => if (i < 32) 1f else 0f)
    val cB = Array.tabulate(64)(i => if (i >= 32) 1f else 0f)
    val clustered = ((0 until 10).map(i => (i.toLong, noisy(cA))) ++
      (10 until 20).map(i => (i.toLong, noisy(cB)))).toDF("vec_id", "embedding")
    val cq = clustered.filter(col("vec_id").isin(0L, 10L))
    assert(
      rows(Similarity.projectedTopK(cq, clustered, k = 1, pool = 15)) ==
        rows(Similarity.bruteForceTopK(cq, clustered, k = 1)),
      "projected pool must retain the exact top-1 on clustered data")
  }

  test("projectedTopK plan: the pool stage is a bucket equi-join, never a nested loop") {
    val s = spark
    import s.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val df = Similarity.projectedTopK(e.filter(col("vec_id") < 8), e, k = 5, pool = 15, bits = 4)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), "projected pool must not nested-loop:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("mmrTopK demotes the redundant near-copy below a diverse candidate") {
    val s = spark
    import s.implicits._
    // a is most relevant; b is a near-copy of a (plain top-k would rank it
    // second); c is slightly less relevant but diverse. MMR at λ=0.7 must
    // pick a, then c (b's redundancy penalty ≈ 0.3·1.0 outweighs its
    // relevance edge), then b.
    val q = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.9f, 0.43589f, 0f, 0f)),
      (2L, Array(0.9f, 0.4359f, 0.01f, 0f)),
      (3L, Array(0.85f, -0.52678f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(q, corpus, k = 3, pool = 10)
      .collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(got.toSeq == Seq((1, 1L), (2, 3L), (3, 2L)))
    // the relevance-only baseline ranks the redundant copy second — the
    // reorder above is MMR's doing, not the pool order
    val brute = Similarity.bruteForceTopK(q, corpus, k = 3)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id"))
    assert(brute.toSeq == Seq(1L, 2L, 3L))
    // λ=1000 degenerates to pure relevance order
    val pure = Similarity.mmrTopK(q, corpus, k = 3, pool = 10, lambdaMilli = 1000)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id"))
    assert(pure.toSeq == Seq(1L, 2L, 3L))
  }

  test("signLshTopK recovers brute-force hits on a separable clustered corpus") {
    // Same separable fixture as the IVF tests: cluster c lives on dims
    // (2c, 2c+1), cross-cluster cosine exactly 0. Sign buckets over the
    // first 8 dims put every candidate a query meets in its own cluster
    // (clusters 0-3) or in the all-zero bucket shared by clusters 4-7 —
    // either way the rounded-cosine rerank must surface same-cluster
    // vectors that brute-force also ranks top-5, so genuine containment
    // in brute@5 is provable, not vacuous (the old assertion
    // `lsh ⊆ lsh ∪ brute` was a tautology).
    val s = spark
    import s.implicits._
    val clustered = (for {
      c <- 0 until 8
      j <- 0 until 20
    } yield {
      val v = Array.fill(16)(0.0f)
      v(2 * c) = 1.0f
      v(2 * c + 1) = 0.01f * (j % 5)
      (j * 8L + c, v)
    }).toDF("vec_id", "embedding")
    val q = clustered.filter(col("vec_id") < 8)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(Similarity.bruteForceTopK(q, clustered, k = 5))
    val lsh = hits(Similarity.signLshTopK(q, clustered, k = 5))
    assert(lsh.nonEmpty)
    assert(lsh.subsetOf(brute), s"LSH hits outside brute top-5: ${lsh -- brute}")
    // clusters 4-7 share one bucket, so those queries see their whole
    // cluster and must recover brute-force exactly
    val full = (4L until 8L).toSet
    assert(brute.filter(h => full(h._1)) == lsh.filter(h => full(h._1)))
    // real embeddings: machinery still returns ranked non-self hits
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val lshE = Similarity.signLshTopK(e.filter(col("vec_id") < 4), e, k = 5).collect()
    assert(lshE.nonEmpty)
    assert(lshE.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("bpeTokens splits on word boundaries keeping punctuation tokens") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "Don't panic, world!")).toDF("doc_id", "text")
    val toks = df
      .select(graft.ops.TextAnalysis.bpeTokens(col("text")).as("t"))
      .collect().head.getSeq[String](0)
    assert(toks == Seq("don't", "panic", ",", "world", "!"))
  }

  test("ivfTopK: >= 0.9 recall vs brute force on a clustered corpus") {
    // 8 well-separated clusters on disjoint dimension pairs: cluster c lives
    // on dims (2c, 2c+1), so cross-cluster cosine is exactly 0 and
    // within-cluster cosine is ~0.99+. Ids interleave clusters (id = j*8+c)
    // so the deterministic init (8 lowest ids) seeds one centroid per
    // cluster; with nProbe=4 every query probes its own cell, so brute-force
    // top-k (all same-cluster) must be fully recovered — the assertion
    // actually certifies the probe-and-rerank machinery, not luck.
    val s = spark
    import s.implicits._
    val clustered = (for {
      c <- 0 until 8
      j <- 0 until 20
    } yield {
      val v = Array.fill(16)(0.0f)
      v(2 * c) = 1.0f
      v(2 * c + 1) = 0.01f * (j % 5)
      (j * 8L + c, v)
    }).toDF("vec_id", "embedding")
    val q = clustered.filter(col("vec_id") < 8) // one query per cluster
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(Similarity.bruteForceTopK(q, clustered, k = 5))
    val ivf = hits(Similarity.ivfTopK(q, clustered, k = 5, nCentroids = 8, nProbe = 4))
    assert(ivf.nonEmpty)
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, f"IVF recall $recall%.2f below 0.9 on separable clusters")
    // and on the real (unstructured) embeddings, probing still beats chance
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qe = e.filter(col("vec_id") < 8)
    val bruteE = hits(Similarity.bruteForceTopK(qe, e, k = 5))
    val ivfE = hits(Similarity.ivfTopK(qe, e, k = 5, nCentroids = 8, nProbe = 4))
    assert((bruteE & ivfE).size.toDouble / bruteE.size >= 0.4)
    // sharded/offset id space (ids not dense from 0): the lowest-n-id seed
    // rule must still produce centroids — a filter(id < n) would seed zero
    val shifted = clustered.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val qs = shifted.filter(col("vec_id") < 1000008L)
    val bruteS = hits(Similarity.bruteForceTopK(qs, shifted, k = 5))
    val ivfS = hits(Similarity.ivfTopK(qs, shifted, k = 5, nCentroids = 8, nProbe = 4))
    assert((bruteS & ivfS).size.toDouble / bruteS.size >= 0.9, "offset-id corpus must still seed")
  }

  test("ivfFlatTopK: full recall on the clustered corpus; k rows per query on real embeddings") {
    // same separable fixture as the k-means test: seeds (ids < 8) land one
    // per cluster, nProbe=4 covers each query's own cell, so the flat
    // quantizer must also recover brute-force exactly
    val s = spark
    import s.implicits._
    val clustered = (for {
      c <- 0 until 8
      j <- 0 until 20
    } yield {
      val v = Array.fill(16)(0.0f)
      v(2 * c) = 1.0f
      v(2 * c + 1) = 0.01f * (j % 5)
      (j * 8L + c, v)
    }).toDF("vec_id", "embedding")
    val q = clustered.filter(col("vec_id") < 8)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(Similarity.bruteForceTopK(q, clustered, k = 5))
    val flat = hits(Similarity.ivfFlatTopK(q, clustered, k = 5, nCentroids = 8, nProbe = 4))
    assert((brute & flat).size.toDouble / brute.size >= 0.9)
    // real embeddings: exactly k ranked rows per query, ranks 1..k
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val res = Similarity.ivfFlatTopK(e.filter(col("vec_id") < 8), e, k = 5).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    byQ.values.foreach(rs => assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5)))
  }

  test("searchTopK: hand-computed scores, rarer terms weigh more, top-k plan is TakeOrdered") {
    val s = spark
    import s.implicits._
    // N=4; 'rare' df=1, 'common' df=4 -> idf_milli(rare)=2333, idf_milli(common)=111
    val docsDf = Seq(
      (1L, "rare common common"),
      (2L, "common"),
      (3L, "common common common"),
      (4L, "common other words")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.searchTopK(docsDf, Seq("rare", "common"), k = 3)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // idf_milli: rare = round(1000*(4-1+0.5)/1.5) = 2333; common = round(1000*0.5/4.5) = 111
    // doc1 = 1*2333 + 2*111 = 2555; doc3 = 3*111 = 333; doc2 = 111; doc4 = 111
    assert(rows.take(2).toSeq == Seq((1L, 2555L, 2L), (3L, 333L, 1L)))
    assert(rows(2) == ((2L, 111L, 1L))) // tie with doc4 broken by doc_id; k=3 cuts doc4
    assert(rows.length == 3)
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("text index: persisted lifecycle ≡ tokenize-per-query; pruned probe; staged append repairs") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textidx").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val docsDf = Seq(
      (1L, "rare common common"),
      (2L, "common"),
      (3L, "common common common"),
      (4L, "common other words")
    ).toDF("doc_id", "text")
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // build + grow + retract + compact lands exactly the in-memory answer
    TextAnalysis.writeTextIndex(docsDf, dir, buckets = 16)
    TextAnalysis.appendTextIndex(
      Seq((100L, "rare rare decoy")).toDF("doc_id", "text"), dir)
    TextAnalysis.deleteFromTextIndex(Seq(100L).toDF("doc_id"), dir)
    TextAnalysis.compactTextIndex(s, dir)
    val served = TextAnalysis.searchTextIndex(s, dir, Seq("rare", "common"), k = 3)
    assert(asRows(served) === asRows(
      TextAnalysis.searchTopK(docsDf, Seq("rare", "common"), k = 3)))
    // the probe PRUNES to the query terms' buckets at the scan
    served.count()
    val plan = served.queryExecution.executedPlan
    assert(plan.toString.contains("PartitionFilters"), plan.toString.take(1500))
    val scanned = plan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("postings") =>
        f.selectedPartitions.partitionCount
    }.sum
    assert(scanned <= 2, s"2-term probe must scan <= 2 token buckets, scanned $scanned")
    // a duplicate resend posts nothing (delta anti-joins docids)
    val before = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/docids")).length
    TextAnalysis.appendTextIndex(docsDf, dir)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/docids")).length === before)
    // a WITHIN-batch duplicated id refuses up front — it would double tf
    // and inflate idf's N, silently and unrepairably
    val dup = intercept[IllegalArgumentException](
      TextAnalysis.appendTextIndex(
        Seq((60L, "a"), (60L, "b")).toDF("doc_id", "text"), dir))
    assert(dup.getMessage.contains("duplicated"), dup.getMessage)
    // ... including ids distinct only BEFORE the store's long cast
    val dup2 = intercept[IllegalArgumentException](
      TextAnalysis.appendTextIndex(
        Seq((62.2, "a"), (62.9, "b")).toDF("doc_id", "text"), dir))
    assert(dup2.getMessage.contains("duplicated"), dup2.getMessage)
    // a stream batch >= 1 pointed at this BATCH-built store refuses by
    // name instead of falling over on the missing batch_id column
    val wrongKind = intercept[IllegalArgumentException](
      TextAnalysis.ingestTextBatch(Seq((61L, "x")).toDF("doc_id", "text"), dir, 5L))
    assert(wrongKind.getMessage.contains("batch-built"), wrongKind.getMessage)
    // a store whose bucketing pin is gone is damaged — refuse, never
    // serve silently near-empty results under the wrong bucket count
    val pinDir = java.nio.file.Files.createTempDirectory("textnopin").toString
    TextAnalysis.writeTextIndex(docsDf, pinDir, buckets = 16)
    fs.delete(new org.apache.hadoop.fs.Path(s"$pinDir/bucketing"), false)
    val noPin = intercept[IllegalStateException](
      TextAnalysis.searchTextIndex(s, pinDir, Seq("rare"), k = 3))
    assert(noPin.getMessage.contains("bucketing"), noPin.getMessage)
    // compacting away EVERY doc leaves a readable (empty-serving) store
    val wipeDir = java.nio.file.Files.createTempDirectory("textwipe").toString
    TextAnalysis.writeTextIndex(docsDf, wipeDir)
    TextAnalysis.deleteFromTextIndex(docsDf.select("doc_id"), wipeDir)
    TextAnalysis.compactTextIndex(s, wipeDir)
    assert(TextAnalysis.searchTextIndex(s, wipeDir, Seq("rare"), k = 3).count() === 0L)
    TextAnalysis.appendTextIndex(Seq((70L, "rare")).toDF("doc_id", "text"), wipeDir)
    assert(TextAnalysis.searchTextIndex(s, wipeDir, Seq("rare"), k = 3).count() === 1L)
    // re-inserting a tombstoned doc refuses until compact reclaims
    TextAnalysis.deleteFromTextIndex(Seq(3L).toDF("doc_id"), dir)
    val e = intercept[IllegalArgumentException](
      TextAnalysis.appendTextIndex(Seq((3L, "common again")).toDF("doc_id", "text"), dir))
    assert(e.getMessage.contains("compact"), e.getMessage)
    // ... and the tombstone is live until then: doc 3 gone from results, N drops
    val minus3 = TextAnalysis.searchTextIndex(s, dir, Seq("rare", "common"), k = 3)
    assert(asRows(minus3) === asRows(
      TextAnalysis.searchTopK(docsDf.filter(col("doc_id") =!= 3L), Seq("rare", "common"), k = 3)))
    // a COMMITTED staged append (crash before apply) rolls forward on the
    // next mutation — postings and docids land together, never one of the
    // two — after which the new doc is served
    TextAnalysis.compactTextIndex(s, dir)
    val tmp = s"$dir/staged.compacting"
    Seq((7L, "rare rare rare")).toDF("doc_id", "text")
      .select(col("doc_id"), explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("bucket", TextAnalysis.tokBucket(col("tok"), 16))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(s"$tmp/postings")
    Seq(7L).toDF("doc_id").coalesce(1).write.parquet(s"$tmp/docids")
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/inflight"), true)
    out.write("appendTextIndex".getBytes("UTF-8")); out.close()
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(s"$dir/staged")))
    // readers refuse the mid-crash store; a mutation repairs it
    intercept[IllegalStateException](
      TextAnalysis.searchTextIndex(s, dir, Seq("rare"), k = 3))
    TextAnalysis.appendTextIndex(Seq((1L, "already known")).toDF("doc_id", "text"), dir)
    // live set = {1, 2, 4} (doc 3 compacted away) + the rolled-forward 7
    assert(asRows(TextAnalysis.searchTextIndex(s, dir, Seq("rare", "common"), k = 3)) ===
      asRows(TextAnalysis.searchTopK(
        docsDf.filter(col("doc_id") =!= 3L)
          .unionAll(Seq((7L, "rare rare rare")).toDF("doc_id", "text")),
        Seq("rare", "common"), k = 3)))
  }

  test("semanticContamination: flags sources, argmax tiebreak on lowest bench id") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.2f, 0.1f, 0.0f)),
      (2L, Array(0.1f, 1.0f, 0.2f, 0.0f)),
      (3L, Array(-1.0f, -1.0f, 0.5f, 0.0f)) // different sign bucket
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Array(1.0f, 0.2f, 0.1f, 0.0f)), // exact copy of 1
      (101L, Array(1.0f, 0.2f, 0.1f, 0.0f)), // second exact copy: tie on cos
      (102L, Array(-0.9f, -1.0f, 0.4f, 0.0f)) // near 3 but below 0.99? probe below
    ).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity
      .semanticContamination(corpus, bench, threshold = 0.99)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    // vec 1 hit by both copies: 2 hits, cos 1.0, tiebreak -> bench 100
    assert(got(1L) === ((2L, 1.0, 100L)))
    // vec 2 is not 0.99-close to anything
    assert(!got.contains(2L))
  }

  test("phraseSearch: exact adjacency, overlapping hits, repeated terms, case-fold") {
    val s = spark
    import s.implicits._
    val docsDf = Seq(
      (1L, "the Table Scan beats a table scan today"), // 2 hits, first at pos 1
      (2L, "table of scan"), // terms present, never adjacent
      (3L, "scan table"), // reversed order is not the phrase
      (4L, "go go go"), // repeated-term phrase fixture
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(docsDf, Seq("table", "scan"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((2L, 1L))))
    // a phrase of one repeated term: "go go" occurs at positions 0 and 1
    val rep = TextAnalysis.phraseSearch(docsDf, Seq("go", "go"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rep === Map(4L -> ((2L, 0L))))
    // three-term phrase spanning the repeated token
    val tri = TextAnalysis.phraseSearch(docsDf, Seq("go", "go", "go"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(tri === Map(4L -> ((1L, 0L))))
  }

  test("Funnel.transitions: lag-1 pairs per user, milli row-normalized, null users dropped") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, java.lang.Long.valueOf(10L), 100L, "view"),
      (2L, java.lang.Long.valueOf(10L), 200L, "click"),
      (3L, java.lang.Long.valueOf(10L), 300L, "view"),
      (4L, java.lang.Long.valueOf(20L), 100L, "view"),
      (5L, java.lang.Long.valueOf(20L), 200L, "click"),
      (6L, java.lang.Long.valueOf(20L), 300L, "purchase"),
      (7L, null.asInstanceOf[java.lang.Long], 50L, "view")
    ).toDF("event_id", "user_id", "ts_us", "event_type")
    val got = graft.ops.Funnel.transitions(ev)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // from view: 2 transitions (both to click); from click: to view and to purchase
    assert(got === Map(
      ("view", "click") -> ((2L, 2L, 1000L)),
      ("click", "view") -> ((1L, 2L, 500L)),
      ("click", "purchase") -> ((1L, 2L, 500L))))
  }

  test("Funnel.topPaths: ordered truncated paths, tie broken by path, top-k plan") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 10L, 100L, "view"), (2L, 10L, 200L, "click"),
      (3L, 20L, 100L, "view"), (4L, 20L, 200L, "click"),
      (5L, 30L, 100L, "view"),
      (6L, 40L, 300L, "click"), (7L, 40L, 100L, "view") // out of order: view first by ts
    ).toDF("event_id", "user_id", "ts_us", "event_type")
    val df = Funnel.topPaths(ev, maxSteps = 2, k = 10)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("view>click", 3L), ("view", 1L)))
    // truncation: maxSteps 1 collapses everything to the first step
    val one = Funnel.topPaths(ev, maxSteps = 1, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(one === Seq(("view", 4L)))
    // the sort+limit runs over the path-count AGGREGATE (bounded by
    // |types|^maxSteps rows), never the events table: assert the sort's
    // child is the aggregate, not a raw scan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Sort") && p.contains("HashAggregate"), p.take(800))
  }

  test("quantizeInt8: codes bounded to [-127,127], hand-check, zero-vector guard, dequant error small") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)), // scale 1.0 -> codes 64,-127,32
      (2L, Array(0.0f, 0.0f)) // zero vector -> all-zero codes, no div-by-zero
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("scale_r") == 1.0)
    assert(out(1L).getAs[Long]("q_sum") == 64L - 127L + 32L)
    assert(out(2L).getAs[Long]("q_sum") == 0L)
    // on real embeddings: every code within [-127,127] via min/max of the
    // dequantization identity, and cosine of dequantized vs original high
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val mab = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val withQ = e
      .select(col("vec_id"), col("embedding").as("v"), mab.as("mab"))
      .withColumn(
        "q",
        transform(col("v"), x => round(lit(127.0) * x.cast("double") / col("mab"), 0).cast("long")))
    val bounds = withQ
      .select(array_max(col("q")).as("hi"), array_min(col("q")).as("lo"))
      .agg(max("hi").as("hi"), min("lo").as("lo"))
      .head()
    assert(bounds.getLong(0) <= 127L && bounds.getLong(1) >= -127L)
    val fidelity = withQ
      .select(
        Similarity
          .cosine(
            col("v"),
            transform(col("q"), c => (c.cast("double") * col("mab") / 127.0).cast("float")))
          .as("c"))
      .agg(min("c"))
      .head()
      .getDouble(0)
    assert(fidelity > 0.99, s"worst dequantized cosine $fidelity")
  }

  test("langMixture: per-source counts and ppm shares on a hand-labeled fixture") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "webA", "the and of is extra words"),
      (2L, "webA", "der und die ist hier"),
      (3L, "webA", "the the the end"),
      (4L, "books", "el la los es aqui")
    ).toDF("doc_id", "source", "text")
    val got = graft.ops.Corpus.langMixture(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      ("webA", "en") -> ((2L, 666666L)),
      ("webA", "de") -> ((1L, 333333L)),
      ("books", "es") -> ((1L, 1000000L))))
  }

  test("cellBalance: uniform shares on the separable clustered corpus; hot cell surfaces") {
    val s = spark
    import s.implicits._
    val clustered = (for {
      c <- 0 until 8
      j <- 0 until 20
    } yield {
      val v = Array.fill(16)(0.0f)
      v(2 * c) = 1.0f
      v(2 * c + 1) = 0.01f * (j % 5)
      (j * 8L + c, v)
    }).toDF("vec_id", "embedding")
    // seeds (ids < 8) land one per cluster; every vector's nearest seed is
    // its own cluster's, so all 8 cells hold exactly 20 vectors
    val got = Similarity.cellBalance(clustered, nCentroids = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.keySet == (0L until 8L).toSet)
    assert(got.values.toSet == Set((20L, 125000L)))
    // collapse detection: seeds stay distinct (one per subspace) but the
    // corpus mass all lands in cluster 0's subspace — cell 0 must dominate
    val collapsed = ((0 until 8).map { c =>
      val v = Array.fill(16)(0.0f)
      v(2 * c) = 1.0f
      (c.toLong, v)
    } ++ (8L until 40L).map { i =>
      val v = Array.fill(16)(0.0f)
      v(0) = 1.0f
      v(1) = 0.001f * (i % 7)
      (i, v)
    }).toDF("vec_id", "embedding")
    val hot = Similarity.cellBalance(collapsed, nCentroids = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hot(0L) > 500000L, s"collapsed corpus must show a dominant cell: $hot")
  }

  test("langId prefers the language whose markers dominate") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house is big"),
      (2L, "der hund und die katze und der vogel ist hier")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
  }

  test("softDedupWeights: copies split one document's weight, singletons keep 1000") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "shared content here"),
      (2L, "shared  content   here"), // whitespace-normalized duplicate
      (3L, "unique content"),
      (4L, "shared content here") // third copy
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.softDedupWeights(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_copies"), r.getAs[Long]("weight_milli")))).toMap
    assert(got(1L) == ((3L, 333L)) && got(2L) == ((3L, 333L)) && got(4L) == ((3L, 333L)))
    assert(got(3L) == ((1L, 1000L)))
  }

  test("softDedupWeights floors at 1 milli — a 1001+-copy group is never weighted to zero") {
    val s = spark
    import s.implicits._
    val df = (1L to 1200L).map(i => (i, "mega duplicated banner")).toDF("doc_id", "text")
    val w = graft.ops.Dedup.softDedupWeights(df).select("n_copies", "weight_milli").distinct().collect()
    assert(w.length == 1)
    assert(w.head.getLong(0) == 1200L && w.head.getLong(1) == 1L)
  }

  test("chunkContentDefined: chunks tile the document; boundaries survive a leading insertion") {
    val s = spark
    import s.implicits._
    val words = (1 to 80).map(i => s"w${i * 7 % 101}x$i").mkString(" ")
    val df = Seq(
      (1L, words),
      (2L, "inserted preamble sentence goes here " + words)
    ).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkContentDefined(df).collect()
    val a = chunks.filter(_.getAs[Long]("doc_id") == 1L).sortBy(_.getAs[Long]("chunk_id"))
    val b = chunks.filter(_.getAs[Long]("doc_id") == 2L)
    // tiling: chunk k+1 starts right after chunk k ends; spans cover 1..80
    assert(a.head.getAs[Long]("tok_start") == 1L)
    assert(a.last.getAs[Long]("tok_end") == 80L)
    a.sliding(2).foreach {
      case Array(x, y) =>
        assert(y.getAs[Long]("tok_start") == x.getAs[Long]("tok_end") + 1L)
      case _ =>
    }
    assert(a.map(_.getAs[Long]("n_tokens")).sum == 80L)
    // shift-resistance: the insertion perturbs only the first chunk(s);
    // every chunk fingerprint after the first content boundary reappears
    val aMd5 = a.map(_.getAs[String]("chunk_md5")).toSet
    val bMd5 = b.map(_.getAs[String]("chunk_md5")).toSet
    assert((aMd5 intersect bMd5).size >= aMd5.size - 1,
      s"expected at most one perturbed chunk, got ${aMd5.size - (aMd5 intersect bMd5).size}")
  }

  test("scriptProfile counts per-range chars exactly and labels the dominant script") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "hello world"), // 10 latin letters, 1 space
      (2L, "привет мир"), // 9 cyrillic
      (3L, "你好世界 こんにちは 안녕"), // 4 han + 5 kana + 2 hangul = 11 cjk
      (4L, "مرحبا hi"), // 5 arabic vs 2 latin -> arabic
      (5L, "12345 !?"), // nothing in any range -> other
      (6L, "café naïve") // accented latin counts via the extension range
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_latin"), r.getAs[Long]("n_cyrillic"), r.getAs[Long]("n_cjk"),
          r.getAs[Long]("n_arabic"), r.getAs[String]("script_pred"))))
      .toMap
    assert(got(1L) == ((10L, 0L, 0L, 0L, "latin")))
    assert(got(2L) == ((0L, 9L, 0L, 0L, "cyrillic")))
    assert(got(3L) == ((0L, 0L, 11L, 0L, "cjk")))
    assert(got(4L) == ((2L, 0L, 0L, 5L, "arabic")))
    assert(got(5L) == ((0L, 0L, 0L, 0L, "other")))
    assert(got(6L) == ((9L, 0L, 0L, 0L, "latin")))
  }

  test("quality: clean doc scores higher than stopword soup") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq.fill(40)("substantive analytical content word").mkString(" ")),
      (2L, Seq.fill(40)("the a and of").mkString(" "))
    ).toDF("doc_id", "text")
    val q = TextAnalysis.quality(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    assert(q(1L) > q(2L))
  }

  test("repetition: hand-computed n-gram fractions") {
    val s = spark
    import s.implicits._
    // 2-grams of "a b a b c": [a b, b a, a b, b c] → total 4, distinct 3, max 2
    // 3-grams: [a b a, b a b, a b c] → total 3, max 1
    val d = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d).collect().head
    assert(r.getAs[Long]("n_2grams") == 4L)
    assert(r.getAs[Double]("top2_frac") == 0.5)
    assert(r.getAs[Double]("dup2_frac") == 0.25)
    assert(r.getAs[Double]("top3_frac") == 0.3333)
    // short docs: 2 tokens → no 3-grams → dropped; 1 token → no grams at all
    val short = Seq((1L, "a b"), (2L, "a"), (3L, "x y z")).toDF("doc_id", "text")
    val ids = TextAnalysis.repetition(short).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(ids == Seq(3L))
  }

  test("topTerms ranks by tf/df with token tie-break") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val got = TextAnalysis.topTerms(d).collect()
      .map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"), r.getAs[String]("tok"),
          r.getAs[Double]("score")))
      .toSet
    // df: x=1, y=2, z=1 → doc 1: x 2.0, y 0.5; doc 2: z 1.0, y 0.5
    assert(got == Set(
      (1L, 1, "x", 2.0), (1L, 2, "y", 0.5),
      (2L, 1, "z", 1.0), (2L, 2, "y", 0.5)))
  }

  test("multimodal: feature extraction is deterministic and byte-derived") {
    val m = Multimodal.asMedia(fixture, "text", "text/plain")
    val f = Multimodal.extractFeatures(spark, m).collect().sortBy(_.doc_id)
    assert(f.length == 4)
    assert(f(0).media_md5 == f(3).media_md5) // doc 4 is an exact dup of doc 1
    assert(f(0).features.length == 8)
    // 't' = 0x74 = 116 → 116/255
    assert(math.abs(f(0).features(0) - 116f / 255f) < 1e-6)
    assert(f(0).n_bytes == fixture.collect().head.getString(1).length)
  }
}
