package graft

import graft.ops.Graph
import org.apache.spark.sql.functions.col

/** Hand-computed integer-PageRank semantics + iteration-materialization
  * plan guard.
  */
class GraphSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // 1 -> {2,3}, 2 -> 3, 3 -> 1, 4 -> 1 (node 4 has no in-edges).
  private lazy val edges =
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")

  test("pageRankMilli: two hand-computed iterations, teleport floor for sources") {
    // r0 = 1000 everywhere; deg = {1:2, 2:1, 3:1, 4:1}
    // iter1 inbound: n1 = 1000+1000, n2 = 500, n3 = 500+1000, n4 = 0
    //   r1 = {1: 150+1700 = 1850, 2: 150+425 = 575, 3: 150+1275 = 1425, 4: 150}
    // iter2 inbound: n1 = 1425+150, n2 = 925, n3 = 925+575, n4 = 0
    //   r2 = {1: 150+1338 = 1488, 2: 150+786 = 936, 3: 150+1275 = 1425, 4: 150}
    val got = Graph
      .pageRankMilli(edges, iters = 2)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(1L -> 1488L, 2L -> 936L, 3L -> 1425L, 4L -> 150L))
  }

  test("pageRankMilli: iteration N's plan does not re-evaluate iterations 1..N-1") {
    val r = Graph.pageRankMilli(edges, iters = 3)
    // every iteration ends in a localCheckpoint, so the final plan must be
    // a scan of checkpointed blocks — no joins/aggregates from the loop body
    val plan = r.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD"), plan.take(500))
    assert(!plan.contains("Join"), "unmaterialized iterative lineage:\n" + plan.take(1000))
  }

  test("pageRankMilli: dangling sink absorbs mass (documented un-normalized semantics)") {
    // 1 -> 3, 2 -> 3; node 3 has NO out-edges. Its inbound mass is dropped
    // each iteration, not redistributed — pin the documented behavior.
    // deg = {1:1, 2:1}; r0 = 1000 each.
    // iter1: n3 inbound = 2000 -> r1(3) = 150 + 1700 = 1850; n1 = n2 = 150.
    // iter2: n3 inbound = 300  -> r2(3) = 150 + 255  = 405;  n1 = n2 = 150.
    // Total mass shrinks (3000 -> 2150 -> 705): the sink absorbed it.
    val sink = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val r1 = Graph.pageRankMilli(sink, iters = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 150L, 2L -> 150L, 3L -> 1850L))
    val r2 = Graph.pageRankMilli(sink, iters = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 150L, 2L -> 150L, 3L -> 405L))
    assert(r2.values.sum < r1.values.sum, "dangling mass must drain, not conserve")
  }

  test("pageRankMilli: rank mass follows in-degree on a star graph") {
    // hub 0 receives from 50 spokes; every spoke only from the hub
    val star = (1L to 50L).flatMap(i => Seq((i, 0L), (0L, i))).toDF("src", "dst")
    val got = Graph.pageRankMilli(star, iters = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) > got(1L) * 10, s"hub must dominate: ${got(0L)} vs ${got(1L)}")
    assert((1L to 50L).map(got).toSet.size == 1, "spokes are symmetric")
  }

  test("labelPropagation: two cliques joined by a bridge settle into two communities") {
    val s = spark
    import s.implicits._
    // hand-simulated through 4 synchronous min-tie rounds: clique {1,2,3}
    // converges to label 1, clique {10,11,12} to label 3 (the bridge 3-10
    // leaks 3's label into the right clique before 1 overwrites the left)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (3L, 10L)
    ).toDF("src", "dst")
    val got = graft.ops.Graph.labelPropagation(edges, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L), got.toString)
    // determinism: a second run reproduces the labels exactly
    val again = graft.ops.Graph.labelPropagation(edges, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("kCore: K4 plus pendant chain — the clique survives k=3, tail peels") {
    // K4 on {1,2,3,4}; pendant chain 4-5-6
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = Graph.kCore(e, k = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: a chain cascades to the empty core at k=2") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    assert(Graph.kCore(e, k = 2, maxRounds = 8).count() === 0L)
    // but a triangle with the same tail keeps its triangle
    val e2 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.kCore(e2, k = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: equals a reference sequential peel on a random graph") {
    val rnd = new scala.util.Random(7)
    val es = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val k = 3
    // reference: naive repeated peel over an in-memory adjacency map
    var adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
    var changed = true
    while (changed) {
      val keep = adj.filter { case (_, ns) => ns.size >= k }.keySet
      changed = keep.size != adj.size
      adj = adj.filter { case (n, _) => keep(n) }
        .map { case (n, ns) => n -> ns.filter(keep) }
        .filter { case (_, ns) => ns.nonEmpty }
    }
    val want = adj.map { case (n, ns) => n -> ns.size.toLong }
    val got = Graph.kCore(es.toDF("src", "dst"), k, maxRounds = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got $got want $want")
  }

  test("kCore: unconverged peel inside maxRounds fails fast") {
    // a 20-chain at k=2 needs ~10 rounds to empty; 2 are not enough
    val e = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException](Graph.kCore(e, k = 2, maxRounds = 2))
    assert(ex.getMessage.contains("did not converge"))
  }

  test("kCore: the documented chain depth bound — a 32-chain at k=2 peels in exactly 16 rounds") {
    val e = (1L until 32L).map(i => (i, i + 1)).toDF("src", "dst")
    // two endpoints peel per round: 32 nodes -> 16 rounds to empty
    assert(Graph.kCore(e, k = 2, maxRounds = 16).count() === 0L)
    val ex = intercept[IllegalArgumentException](Graph.kCore(e, k = 2, maxRounds = 15))
    assert(ex.getMessage.contains("did not converge"))
  }

  test("coreNumbers: converged h-index values are the core numbers; >= k slice equals kCore") {
    // K4 {1..4} + pendant chain 4-5-6: cores 3,3,3,3,1,1
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = Graph.coreNumbers(e, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
    // the >= k slice reproduces kCore's vertex set on a random graph
    val rnd = new scala.util.Random(11)
    val es = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val cn = Graph.coreNumbers(es.toDF("src", "dst"), rounds = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference core numbers: sequential min-peel (each k's core via naive peel)
    def peel(k: Int): Set[Long] = {
      var adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
        .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
      var changed = true
      while (changed) {
        val keep = adj.filter { case (_, ns) => ns.size >= k }.keySet
        changed = keep.size != adj.size
        adj = adj.filter { case (n, _) => keep(n) }
          .map { case (n, ns) => n -> ns.filter(keep) }
      }
      adj.keySet.toSet
    }
    val maxDeg = cn.values.max.toInt
    val want = (1 to (maxDeg + 1)).flatMap(k => peel(k).map(_ -> k.toLong))
      .groupBy(_._1).map { case (n, ks) => n -> ks.map(_._2).max }
    assert(cn == want, s"got $cn want $want")
    // and rounds monotonicity: more rounds never increase a value
    val early = Graph.coreNumbers(es.toDF("src", "dst"), rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cn.foreach { case (n, v) => assert(v <= early(n), s"node $n rose from ${early(n)} to $v") }
  }

  test("personalizedPageRankMilli: seeds hold teleport, mass decays, unreachable stays 0") {
    // 1 -> 2 -> 3, isolated 4 <- 5; seed = {1}
    val e = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("src", "dst")
    val s = spark
    import s.implicits._
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPageRankMilli(e, seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seed: r0=1000; r1 = 150 + 0; r2 = 150; r3 = 150
    assert(got(1L) === 150L)
    // node 2: r1 = 850*1000 div 1000 = 850; r2 = 850*150/1000 = 127; r3 = 127
    assert(got(2L) === 127L)
    // node 3: r1 = 0; r2 = 850*850 div 1000 = 722; r3 = 850*127 div 1000 = 107
    assert(got(3L) === 107L)
    // nodes 4 and 5 are unreachable from the seed: exactly 0 forever
    assert(got(4L) === 0L && got(5L) === 0L)
    // global PageRank would give 4 and 5 the teleport floor — the seed
    // restriction is the whole point
    val global = Graph.pageRankMilli(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(global(4L) > 0L)
    // an ISOLATED seed (no edges at all) still gets a row holding its
    // teleport floor — distinguishable from an unreachable non-seed's 0
    val iso = Graph.personalizedPageRankMilli(e, Seq(1L, 99L).toDF("node"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iso(99L) === 150L, s"isolated seed must hold the teleport floor, got $iso")
    assert(iso(2L) === 127L, "edge-connected ranks unchanged by the isolated seed")
  }

  test("hitsMilli: bipartite hand case — top hub/authority read 1000, one-sided nodes read 0") {
    val s = spark
    import s.implicits._
    // hubs {1, 2} point at authorities {10, 11}: 1 covers both, 2 only 10
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hitsMilli(e, iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // hand-unrolled: a=(2000,1000)->(1000,500); h=(1500,1000)->(1000,666)
    //  a=(1666,1000)->(1000,600);  h=(1600,1000)->(1000,625)
    //  a=(1625,1000)->(1000,615);  h=(1615,1000)->(1000,619)
    assert(got(1L) === ((1000L, 0L)), got.toString)
    assert(got(2L) === ((619L, 0L)))
    assert(got(10L) === ((0L, 1000L)))
    assert(got(11L) === ((0L, 615L)))
  }

  test("commonNeighborRecs: hand-checked path graph, adjacency excluded, hub middle capped") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5: two-hop pairs (1,3),(2,4),(3,5) each share ONE middle
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.commonNeighborRecs(path, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> ((r.getLong(1), r.getLong(3))))
      .toMap
    // node 3 sees both ends at cn=1; rank ties break by smaller rec id
    assert(got((3L, 1L)) === ((1L, 1L)) && got((3L, 5L)) === ((2L, 1L)))
    assert(got((1L, 3L)) === ((1L, 1L)) && !got.contains((1L, 2L)), "neighbors never recommended")
    assert(!got.contains((1L, 4L)), "three hops is not two")
    // diamond: 1-2, 1-3, 2-4, 3-4 -> (1,4) share middles 2 AND 3: cn=2
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val d = Graph.commonNeighborRecs(diamond, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    assert(d((1L, 4L)) === 2L && d((4L, 1L)) === 2L)
    assert(d((2L, 3L)) === 2L, "the other diagonal shares middles 1 and 4")
    // star: center 0 with 10 spokes; capping middles at deg <= 4 excludes
    // the hub, so spoke pairs (co-occurring ONLY through the hub) vanish
    val star = (1L to 10L).map(i => (0L, i)).toDF("src", "dst")
    val capped = Graph.commonNeighborRecs(star, k = 3, maxMiddleDeg = 4L)
    assert(capped.count() === 0L, "hub-only co-occurrence carries no signal under the cap")
    val uncapped = Graph.commonNeighborRecs(star, k = 3, maxMiddleDeg = 64L)
    assert(uncapped.filter(org.apache.spark.sql.functions.col("node") === 1L).count() === 3L)
  }

  test("assortativityMilli: star reads exactly -1; regular cycle reads null; n_edges undirected") {
    // star: hub degree 3, leaves degree 1 -> every edge pairs (3,1):
    // perfectly disassortative, r = -1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val got = Graph.assortativityMilli(star).head()
    assert(got.getLong(0) === 3L)
    assert(got.getDouble(1) === -1.0, got.toString)
    // 4-cycle: every degree is 2 -> zero variance, null not NaN
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c = Graph.assortativityMilli(cycle).head()
    assert(c.getLong(0) === 4L && c.isNullAt(1))
    // duplicate + reversed edges collapse before degrees are counted
    val dup = Seq((0L, 1L), (1L, 0L), (0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    assert(Graph.assortativityMilli(dup).head().getDouble(1) === -1.0)
  }

  test("kTruss: K4 survives, pendant peels, shared-edge cascade under fixed rounds") {
    // K4 on {1,2,3,4} + pendant (4,5): every K4 edge sits in 2 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graph.kTruss(k4, k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size === 6, got.toString)
    assert(got.values.forall(_ === 2L), "K4: every surviving edge in 2 triangles")
    assert(!got.contains((4L, 5L)), "the pendant peels in round 1")
    // bowtie cascade: two triangles share (2,3); k=4 kills the outer
    // edges round 1, which kills (2,3)'s triangles — round 2 peels it
    val bow = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val r1 = Graph.kTruss(bow, k = 4, rounds = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(r1.toSeq === Seq(((2L, 3L), 0L)), "after 1 round only the shared edge remains, support recounted to 0")
    assert(Graph.kTruss(bow, k = 4, rounds = 2).count() === 0L, "round 2 finishes the cascade")
  }

  test("clusteringCoeff: triangle + pendant hand values, degree-1 null, triangle-free 0") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = Graph.clusteringCoeff(g)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap
    // node 1: deg 3, 1 triangle of 3 possible wedge closures -> 1/3
    assert(got(1L) === ((3L, 1L, Some(333333L))), got.toString)
    assert(got(2L) === ((2L, 1L, Some(1000000L))))
    assert(got(3L) === ((2L, 1L, Some(1000000L))))
    // pendant: degree 1 has no wedge to close -> null, never a fake 0
    assert(got(4L) === ((1L, 0L, None)))
    // path graph: wedges exist but none close -> honest zeros
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Graph.clusteringCoeff(path).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(p(2L) === Some(0L))
  }

  test("resourceAllocationRecs: hand RA weights, hub cap empties the star, ties by id") {
    // path 1-2-3-4-5: each skip-pair (i, i+2) shares exactly its middle,
    // every interior degree is 2 -> ra = 500000, cn = 1
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.resourceAllocationRecs(path, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got((1L, 1L)) === ((3L, 500000L, 1L)), got.toString)
    assert(got((3L, 1L)) === ((1L, 500000L, 1L)))
    assert(got((3L, 2L)) === ((5L, 500000L, 1L)))
    assert(!got.keySet.map(_._1).contains(2L) || got((2L, 1L)) === ((4L, 500000L, 1L)))
    // star hub 0, spokes 1..5: every spoke pair scores 1e6/5 through the
    // hub (TRUE degree in the weight); capping middles at 4 removes the
    // hub from the wedge step entirely -> no predictions at all
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val full = Graph.resourceAllocationRecs(star, k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(full((1L, 1L)) === ((2L, 200000L)), "tie by candidate id")
    assert(full((1L, 2L)) === ((3L, 200000L)))
    assert(Graph.resourceAllocationRecs(star, k = 2, maxMiddleDeg = 4L).count() === 0L)
  }

  test("twoHopReach: hand path graph, hub cap suppresses through-hub reach but keeps direct edges") {
    // path 1-2-3-4: reach2(1) = {2,3}, reach2(2) = {1,3,4}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.twoHopReach(path)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((1L, 2L)), got.toString)
    assert(got(2L) === ((2L, 3L)))
    assert(got(3L) === ((2L, 3L)))
    assert(got(4L) === ((1L, 2L)))
    // star: hub 0 with 10 spokes. Uncapped, each spoke reaches the hub +
    // 9 siblings; capping middles at deg <= 4 removes the through-hub
    // wedges, leaving each spoke only its direct edge
    val star = (1L to 10L).map(i => (0L, i)).toDF("src", "dst")
    val capped = Graph.twoHopReach(star, maxMiddleDeg = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(capped(1L) === 1L, "through-hub reach suppressed under the cap")
    assert(capped(0L) === 10L, "the hub's own direct edges all count")
    val full = Graph.twoHopReach(star, maxMiddleDeg = 64L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(full(1L) === 10L, "uncapped: hub + 9 siblings")
  }

  private def supMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("edge store: incremental support equals the batch recompute through append and remove") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("edgestore").toString
    // K4 minus edge (1,4): triangles {1,2,3} and {2,3,4}
    val base = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    Graph.writeEdgeStore(base, dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(base)))
    assert(supMap(Graph.readEdgeSupport(spark, dir))((2L, 3L)) === 2L)
    // append (1,4) — completes K4; the new triangles {1,2,4} and {1,3,4}
    // both contain the ONE new edge: found once each, credited to all
    // three of their edges. Also re-sends a live duplicate (ignored).
    Graph.appendEdgeStore(Seq((4L, 1L), (1L, 2L)).toDF("src", "dst"), dir)
    val k4 = base.unionAll(Seq((1L, 4L)).toDF("src", "dst"))
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(k4)))
    assert(supMap(Graph.readEdgeSupport(spark, dir))((1L, 4L)) === 2L)
    // remove (2,3) — destroys {1,2,3} and {2,3,4} in one batch; both
    // found through the one removed edge, debited from their other edges
    Graph.removeFromEdgeStore(Seq((2L, 3L)).toDF("src", "dst"), dir)
    val fin = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(fin)))
    // re-inserting the tombstoned edge is refused until compaction
    val err = intercept[IllegalArgumentException] {
      Graph.appendEdgeStore(Seq((2L, 3L)).toDF("src", "dst"), dir)
    }
    assert(err.getMessage.contains("compact"), err.getMessage)
    Graph.compactEdgeStore(spark, dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(fin)),
      "compaction preserves support by contract")
    Graph.appendEdgeStore(Seq((2L, 3L)).toDF("src", "dst"), dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(k4)),
      "post-compaction re-insert restores the K4 support")
  }

  test("edge store: mutation credits — small-graph fast path ≡ distributed wedge enumeration") {
    val spark = SparkSpec.spark
    // random churn on a random graph: the single-task credits kernel
    // (default cutoff) and the distributed wedge enumeration (cutoff 0)
    // must leave BYTE-IDENTICAL support — triangles with several batch
    // edges credit once under both
    for (seed <- Seq(9, 31)) {
      val rnd = new scala.util.Random(seed)
      val all = Seq.fill(400)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(p => p._1 != p._2).distinct
      val (batch, base) = all.partition(_ => rnd.nextBoolean())
      def lifecycle(s: org.apache.spark.sql.SparkSession): Map[(Long, Long), Long] = {
        import s.implicits._
        val dir = java.nio.file.Files.createTempDirectory("credab").toString
        Graph.writeEdgeStore(base.toDF("src", "dst"), dir)
        Graph.appendEdgeStore(batch.toDF("src", "dst"), dir)
        Graph.removeFromEdgeStore(batch.take(batch.size / 2).toDF("src", "dst"), dir)
        supMap(Graph.readEdgeSupport(s, dir))
      }
      val local = lifecycle(spark)
      val dist = SparkSpec.withIsolatedConf(
        "spark.graft.graph.localEdgeCutoff" -> "0")(lifecycle)
      assert(local == dist, s"seed $seed: store support differs between kernels")
      assert(local.nonEmpty)
    }
  }

  test("edge store streaming ingest: exactly-once across retries, crash repair, mid-stream compact") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("edgeingest").toString
    val b0 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst") // triangle {1,2,3}
    val b1 = Seq((2L, 4L), (3L, 4L), (2L, 3L)).toDF("src", "dst") // adds {2,3,4}; resends (2,3)
    val b2 = Seq((1L, 4L)).toDF("src", "dst") // completes K4
    Graph.ingestEdgeBatch(b0, dir, 0L)
    Graph.ingestEdgeBatch(b1, dir, 1L)
    Graph.ingestEdgeBatch(b1, dir, 1L) // checkpoint retry: must not double-credit
    Graph.ingestEdgeBatch(b2, dir, 2L)
    val all = b0.unionAll(b1).unionAll(b2)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(all)))
    // time-travel over the generation log: as-of batch 1 sees only the
    // first two generations, as-of 0 only the claim
    assert(supMap(Graph.triangleSupportAsOf(spark, dir, 1L)) ===
      supMap(Graph.triangleSupport(b0.unionAll(b1))))
    assert(supMap(Graph.triangleSupportAsOf(spark, dir, 0L)) ===
      supMap(Graph.triangleSupport(b0)))
    // crash window AFTER the support swap: marker present, stamp already
    // at the batch — the retried batch resolves the marker, recounts nothing
    Seq("ingestEdgeBatch").toDF("op").write.parquet(s"$dir/inflight")
    intercept[IllegalStateException](Graph.readEdgeSupport(spark, dir))
    Graph.ingestEdgeBatch(b2, dir, 2L)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(all)))
    // crash window BEFORE the swap: gen 3 half-landed, support still at
    // batch 2 — the retry recomputes its delta EXCLUDING its own
    // generation, so the credits land exactly once
    Seq((1L, 5L), (2L, 5L)).toDF("u", "v").write.parquet(s"$dir/edges/batch_id=3")
    Seq("ingestEdgeBatch").toDF("op").write.mode("overwrite").parquet(s"$dir/inflight")
    val b3 = Seq((1L, 5L), (2L, 5L), (1L, 2L)).toDF("src", "dst") // adds triangle {1,2,5}
    Graph.ingestEdgeBatch(b3, dir, 3L)
    val all3 = all.unionAll(b3)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(all3)))
    // batch mutators refuse the stream-maintained store
    val err = intercept[IllegalArgumentException](Graph.appendEdgeStore(b2, dir))
    assert(err.getMessage.contains("stream-maintained"), err.getMessage)
    intercept[IllegalArgumentException](
      Graph.removeFromEdgeStore(Seq((1L, 2L)).toDF("src", "dst"), dir))
    // mid-stream compact folds generations; support unchanged; ingest continues
    Graph.compactEdgeStore(spark, dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(all3)))
    // compaction bounds as-of resolution: the folded batch_id=-1 prefix
    // is indivisible, so as-of 0 now reads the whole compacted history
    assert(supMap(Graph.triangleSupportAsOf(spark, dir, 0L)) ===
      supMap(Graph.triangleSupport(all3)))
    Graph.ingestEdgeBatch(Seq((4L, 5L)).toDF("src", "dst"), dir, 4L) // closes {1,4,5} and {2,4,5}
    val all4 = all3.unionAll(Seq((4L, 5L)).toDF("src", "dst"))
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(all4)))
    // re-pointing: a fresh stream's batch 0 replaces the whole store
    Graph.ingestEdgeBatch(b0, dir, 0L)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(b0)))
    // the delete→rename crash window: support gone, a COMPLETE
    // .compacting tree left behind — the retry rolls it forward before
    // reading the stamp instead of path-not-found-looping forever
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/support"),
      new org.apache.hadoop.fs.Path(s"$dir/support.compacting")))
    Seq("ingestEdgeBatch").toDF("op").write.mode("overwrite").parquet(s"$dir/inflight")
    Graph.ingestEdgeBatch(b1, dir, 1L)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) ===
      supMap(Graph.triangleSupport(b0.unionAll(b1))))
    // a FULL batch write over the stream store retires the params pin:
    // the store becomes batch-built and its mutators work again
    Graph.writeEdgeStore(b0, dir)
    Graph.appendEdgeStore(b1, dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) ===
      supMap(Graph.triangleSupport(b0.unionAll(b1))))
    // node triangle counts served from the maintained support equal the
    // batch wedge enumeration (sum of incident supports = 2*tri(v))
    val fromStore = Graph.readTriangleCounts(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchTri = Graph.triangleCounts(b0.unionAll(b1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromStore === batchTri, s"$fromStore vs $batchTri")
  }

  test("cc label store: incremental merges equal the batch star contraction through appends") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("ccstore").toString
    def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def batchCc(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.ops.Dedup.clusterPairs(
        edges.selectExpr("src AS u", "dst AS v"), "u", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two components: the chain {1,2,3} and the pair {10,11}
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    Graph.writeCcStore(base, dir)
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(base))
    // one append: a bridge merging the two components, a fully-unseen
    // pair, and a redundant in-component edge (must be a no-op)
    val b1 = Seq((3L, 10L), (20L, 21L), (1L, 2L)).toDF("src", "dst")
    Graph.appendCcStore(b1, dir)
    val all1 = base.unionAll(b1)
    val got1 = labelMap(Graph.readCcLabels(spark, dir))
    assert(got1 === batchCc(all1), s"$got1")
    assert(got1(11L) === 1L && got1(21L) === 20L)
    // a second append merges THROUGH existing labels: 11 (comp 1) to 20
    // (comp 20) folds the unseen-pair component into component 1
    Graph.appendCcStore(Seq((11L, 20L)).toDF("src", "dst"), dir)
    val all2 = all1.unionAll(Seq((11L, 20L)).toDF("src", "dst"))
    val got2 = labelMap(Graph.readCcLabels(spark, dir))
    assert(got2 === batchCc(all2), s"$got2")
    assert(got2(21L) === 1L)
    // crash marker: readers refuse; a mutator SELF-REPAIRS (the store is
    // one rewriteDir tree, so marker-present is always either untouched
    // or one rename from done) and then applies its own batch
    Seq("appendCcStore").toDF("op").write.parquet(s"$dir/inflight")
    intercept[IllegalStateException](Graph.readCcLabels(spark, dir))
    Graph.appendCcStore(Seq((30L, 31L)).toDF("src", "dst"), dir)
    val all3 = all2.unionAll(Seq((30L, 31L)).toDF("src", "dst"))
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(all3))
    // the delete→rename window: labels gone, a COMPLETE .compacting tree
    // left — the next mutator rolls it forward before its own work
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/cclabels"),
      new org.apache.hadoop.fs.Path(s"$dir/cclabels.compacting")))
    Seq("appendCcStore").toDF("op").write.parquet(s"$dir/inflight")
    Graph.appendCcStore(Seq((40L, 41L)).toDF("src", "dst"), dir)
    assert(labelMap(Graph.readCcLabels(spark, dir)) ===
      batchCc(all3.unionAll(Seq((40L, 41L)).toDF("src", "dst"))))
    Graph.writeCcStore(all2, dir)
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(all2))
  }

  test("cc label store: a removal re-solves only the touched components and splices") {
    val spark = SparkSpec.spark
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ccremove").toString
    def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // component A: chain 1-2-3-4 (bridge 2-3); component B: triangle
    // {10,11,12} (cycle-protected); component C: pair {20,21}
    val base = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("src", "dst")
    Graph.writeCcStore(base, dir)
    // remove the bridge (A genuinely splits) and one triangle side (B
    // stays connected through the other two edges)
    val rem = Seq((2L, 3L), (10L, 11L)).toDF("src", "dst")
    val liveAfter = Seq(
      (1L, 2L), (3L, 4L),
      (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("src", "dst")
    Graph.removeFromCcStore(rem, liveAfter, dir)
    val got = labelMap(Graph.readCcLabels(spark, dir))
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L), got.toString)
    // equals the batch recompute over the live set (plus retained nodes)
    val batch = graft.ops.Dedup.clusterPairs(
      liveAfter.selectExpr("src AS u", "dst AS v"), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (n, c) => if (batch.contains(n)) assert(c === batch(n), s"node $n") }
    // a node stripped of its last edge stays, as its own singleton
    Graph.removeFromCcStore(
      Seq((20L, 21L)).toDF("src", "dst"),
      Seq((1L, 2L), (3L, 4L), (11L, 12L), (10L, 12L)).toDF("src", "dst"),
      dir)
    val got2 = labelMap(Graph.readCcLabels(spark, dir))
    assert(got2(20L) === 20L && got2(21L) === 21L, got2.toString)
    assert(got2(1L) === 1L && got2(4L) === 3L, "untouched components carried verbatim")
    // removing an edge the store never saw (or already removed) is a no-op
    Graph.removeFromCcStore(
      Seq((500L, 501L)).toDF("src", "dst"),
      Seq((1L, 2L), (3L, 4L), (11L, 12L), (10L, 12L)).toDF("src", "dst"),
      dir)
    assert(labelMap(Graph.readCcLabels(spark, dir)) === got2)
    // marker + removal: the mutator repairs, then removes
    Seq("removeFromCcStore").toDF("op").write.parquet(s"$dir/inflight")
    Graph.removeFromCcStore(
      Seq((3L, 4L)).toDF("src", "dst"),
      Seq((1L, 2L), (11L, 12L), (10L, 12L)).toDF("src", "dst"),
      dir)
    val got3 = labelMap(Graph.readCcLabels(spark, dir))
    assert(got3(3L) === 3L && got3(4L) === 4L, got3.toString)
  }

  test("edge store: readers refuse a mid-crash store; mutators self-repair every staged window") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("edgestorecrash").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val base = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    Graph.writeEdgeStore(base, dir)
    // plant the marker in the legacy 1-row-parquet directory form (also
    // keeps that read path covered): readers refuse...
    Seq("appendEdgeStore").toDF("op").write.parquet(s"$dir/inflight")
    val e1 = intercept[IllegalStateException](Graph.readEdgeSupport(spark, dir))
    assert(e1.getMessage.contains("appendEdgeStore"))
    // ...but a mutator repairs: marker-without-staged means the crashed
    // op never committed, so the store is consistent and the append runs
    Graph.appendEdgeStore(Seq((3L, 4L)).toDF("src", "dst"), dir)
    val now = base.unionAll(Seq((3L, 4L)).toDF("src", "dst"))
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(now)))
    // crash AFTER the staged commit: a complete staged tree + marker —
    // the next mutator (here with an already-live duplicate batch, so
    // only the repair itself changes the store) rolls it forward.
    // The tree is built exactly as stageAndApply lays it out, for an
    // append of (1,4), which closes triangle {1,3,4} and so credits the
    // delta edge plus (1,3) and (3,4).
    val delta = Seq((1L, 4L)).toDF("u", "v")
    val liveNew = now.unionAll(Seq((1L, 4L)).toDF("src", "dst"))
    val tmp = s"$dir/staged.compacting"
    delta.write.parquet(s"$tmp/edges_delta")
    val touchedEdges = Seq((1L, 4L), (1L, 3L), (3L, 4L)).toDF("u", "v")
    val touched = touchedEdges
      .select(Graph.supportBucket(col("u"), col("v")).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    Graph.triangleSupport(liveNew)
      .filter(Graph.supportBucket(col("u"), col("v")).isin(touched: _*))
      .withColumn("bucket", Graph.supportBucket(col("u"), col("v")))
      .write.partitionBy("bucket").parquet(s"$tmp/support")
    val out = fs.create(p(s"$tmp/op"), true)
    out.write("appendEdgeStore\nedges\nappend".getBytes("UTF-8"))
    out.close()
    Seq("appendEdgeStore").toDF("op").write.mode("overwrite").parquet(s"$dir/inflight")
    assert(fs.rename(p(tmp), p(s"$dir/staged")))
    intercept[IllegalStateException](Graph.readEdgeSupport(spark, dir))
    Graph.appendEdgeStore(Seq((1L, 2L)).toDF("src", "dst"), dir) // duplicate: repair only
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(liveNew)))
    assert(!fs.exists(p(s"$dir/staged")) && !fs.exists(p(s"$dir/inflight")))
    // crash BEFORE the staged commit: uncommitted tmp + marker — the op
    // never happened; the next mutator discards the tmp and proceeds
    fs.mkdirs(p(s"$tmp/edges_delta"))
    Seq("removeFromEdgeStore").toDF("op").write.parquet(s"$dir/inflight")
    Graph.removeFromEdgeStore(Seq((1L, 4L)).toDF("src", "dst"), dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(now)))
    assert(!fs.exists(p(tmp)))
    // compactEdgeStore's delete→rename window: edges gone, a complete
    // .compacting tree left — any mutator rolls it forward
    Graph.compactEdgeStore(spark, dir)
    assert(fs.rename(p(s"$dir/edges"), p(s"$dir/edges.compacting")))
    Seq("compactEdgeStore").toDF("op").write.parquet(s"$dir/inflight")
    Graph.appendEdgeStore(Seq((2L, 4L)).toDF("src", "dst"), dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) ===
      supMap(Graph.triangleSupport(now.unionAll(Seq((2L, 4L)).toDF("src", "dst")))))
    // a batch-built store has no generation lineage: as-of reads refuse
    val e3 = intercept[IllegalArgumentException](Graph.triangleSupportAsOf(spark, dir, 1L))
    assert(e3.getMessage.contains("batch-built"), e3.getMessage)
    // the ONE unrepairable marker: an interrupted full rebuild — stated,
    // and re-running the rebuild resolves it
    Seq("writeEdgeStore").toDF("op").write.parquet(s"$dir/inflight")
    val e2 = intercept[IllegalStateException](
      Graph.appendEdgeStore(Seq((5L, 6L)).toDF("src", "dst"), dir))
    assert(e2.getMessage.contains("writeEdgeStore"), e2.getMessage)
    Graph.writeEdgeStore(base, dir) // full rebuild resolves the crash
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(base)))
  }

  test("edge store: a churn batch rewrites ONLY the buckets holding touched edges") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("edgebuckets").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a 200-edge path graph spreads over many of the 64 hash buckets
    val base = (1L to 200L).map(i => (i, i + 1)).toDF("src", "dst")
    Graph.writeEdgeStore(base, dir)
    def census(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/support"), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_"))
          b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    val before = census()
    // append (1,3): closes triangle {1,2,3} -> touched edges are the
    // delta plus the two credited edges
    Graph.appendEdgeStore(Seq((1L, 3L)).toDF("src", "dst"), dir)
    val after = census()
    val touched = Seq((1L, 3L), (1L, 2L), (2L, 3L)).toDF("u", "v")
      .select(Graph.supportBucket(col("u"), col("v")).as("b")).distinct()
      .collect().map(r => s"bucket=${r.getInt(0)}").toSet
    def bucketOf(path: String): String =
      path.split("/").find(_.startsWith("bucket=")).getOrElse(sys.error(s"no bucket in $path"))
    // every file that changed (new, gone, or rewritten) lives in a
    // touched bucket; untouched buckets are byte-identical file sets
    val changed = (after.keySet -- before.keySet) ++ (before.keySet -- after.keySet) ++
      before.keySet.intersect(after.keySet).filter(k => before(k) != after(k))
    assert(changed.nonEmpty, "the append must rewrite its touched buckets")
    assert(changed.map(bucketOf).subsetOf(touched),
      s"untouched buckets rewritten: ${changed.map(bucketOf) -- touched}")
    val allBuckets = after.keySet.map(bucketOf)
    info(s"buckets present: ${allBuckets.size}, rewritten: ${touched.size}")
    assert(allBuckets.size > touched.size * 4,
      s"fixture too small to witness partial rewrite: ${allBuckets.size} vs $touched")
    // and the store still reads back as the batch recompute
    assert(supMap(Graph.readEdgeSupport(spark, dir)) ===
      supMap(Graph.triangleSupport(base.unionAll(Seq((1L, 3L)).toDF("src", "dst")))))
    // a removal likewise: drop (1,3), debiting {1,2} and {2,3}
    val before2 = census()
    Graph.removeFromEdgeStore(Seq((1L, 3L)).toDF("src", "dst"), dir)
    val after2 = census()
    val changed2 = (after2.keySet -- before2.keySet) ++ (before2.keySet -- after2.keySet) ++
      before2.keySet.intersect(after2.keySet).filter(k => before2(k) != after2(k))
    assert(changed2.map(bucketOf).subsetOf(touched),
      s"removal rewrote untouched buckets: ${changed2.map(bucketOf) -- touched}")
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(base)))
  }

  test("bfsDistances/landmarkCloseness: hand path graph, unreached comps, source outside graph") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5 plus isolated pair 10-11; sources {1, 4, 99}
    // (99 is not a graph node: contributes nothing, not a phantom row)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("src", "dst")
    val lm = Seq(1L, 4L, 99L).toDF("node")
    val d = Graph.bfsDistances(e, lm)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(d((1L, 1L)) === 0L && d((1L, 4L)) === 3L)
    assert(d((3L, 1L)) === 2L && d((3L, 4L)) === 1L)
    assert(d((5L, 1L)) === 4L && d((5L, 4L)) === 1L)
    assert(!d.keySet.exists(_._2 == 99L), "a source outside the graph reaches nothing")
    assert(!d.keySet.exists(_._1 == 10L), "the isolated pair is honestly unreached")
    assert(d.size === 10L, d.toString)
    // closeness: node 3 reaches both at 2+1 -> ppm = 2e6 div 3 = 666666;
    // node 1 reaches itself (0) and 4 (3) -> 2e6 div 3 as well; node 5:
    // 2 reached, d_sum 5 -> 400000
    val c = Graph.landmarkCloseness(e, lm)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(c(3L) === ((2L, 3L, Some(666666L))), c.toString)
    assert(c(5L) === ((2L, 5L, Some(400000L))))
    assert(c(1L) === ((2L, 3L, Some(666666L))))
    // a lone landmark in its own component: d_sum 0 -> null, never 0
    val lone = Graph.landmarkCloseness(e, Seq(10L).toDF("node"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(lone(10L).isEmpty, lone.toString)
    assert(lone(11L) === Some(1000000L), "11 reaches the one landmark at d=1")
    // fail-fast: a 20-chain from one end needs 19 rounds; 4 are not enough
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException](
      Graph.bfsDistances(chain, Seq(1L).toDF("node"), maxRounds = 4).count())
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
  }

  test("bfsDistances: one-task kernel ≡ frontier loop, refusal on both branches") {
    // the hand graph above, and a seeded random multigraph (self-loops,
    // both orientations, duplicates) over three disjoint id ranges; the
    // sources include a null, an id outside the graph and a repeat
    val rnd = new scala.util.Random(7)
    val randomEdges = Seq(0L, 100L, 200L).flatMap(base =>
      Seq.fill(60)((base + rnd.nextInt(40), base + rnd.nextInt(40))))
    val graphs = Seq(
      (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)), Seq(Some(1L), Some(4L), Some(99L))),
      (randomEdges,
        Seq(Some(0L), Some(3L), Some(105L), Some(105L), Some(231L), Some(999L), None)))
    def bfs(sess: org.apache.spark.sql.SparkSession, edges: Seq[(Long, Long)],
        srcs: Seq[Option[Long]], maxRounds: Int = 16): Seq[(Long, Long, Long)] = {
      import sess.implicits._
      Graph.bfsDistances(edges.toDF("src", "dst"), srcs.toDF("node"), maxRounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    }
    val comps = {
      val s = spark
      import s.implicits._
      graft.ops.Dedup.clusterPairs(randomEdges.filter(p => p._1 != p._2).toDF("doc_a", "doc_b"))
        .select("cluster_id").distinct().count()
    }
    assert(comps >= 3L, s"random graph has $comps components")
    graphs.foreach { case (edges, srcs) =>
      val local = bfs(spark, edges, srcs)
      val frontier = SparkSpec.withIsolatedConf("spark.graft.graph.localEdgeCutoff" -> "0")(
        bfs(_, edges, srcs))
      assert(local.nonEmpty && local === frontier, "one-task and frontier rows differ")
    }
    // a 20-chain from one end needs exactly 19 rounds: 19 passes, 18 is
    // refused at call time, on either branch
    val chain = (1L until 20L).map(i => (i, i + 1))
    def refusal(sess: org.apache.spark.sql.SparkSession): Unit = {
      import sess.implicits._
      val (e, one) = (chain.toDF("src", "dst"), Seq(1L).toDF("node"))
      assert(Graph.bfsDistances(e, one, maxRounds = 19)
        .agg(org.apache.spark.sql.functions.max("dist")).head().getLong(0) === 19L)
      // no action on the result: the refusal must come from the call
      val ex = intercept[IllegalArgumentException](Graph.bfsDistances(e, one, maxRounds = 18))
      assert(ex.getMessage.contains("did not converge"), ex.getMessage)
    }
    refusal(spark)
    SparkSpec.withIsolatedConf("spark.graft.graph.localEdgeCutoff" -> "0")(refusal)
  }

  test("cc store streaming ingest: idempotent resends, crash retry, re-point, pin retirement") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("ccingest").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def batchCc(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.ops.Dedup.clusterPairs(
        edges.selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v"), "u", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val b1 = Seq((3L, 10L), (20L, 21L)).toDF("src", "dst") // merge + fresh pair
    Graph.ingestCcBatch(b0, dir, 0L)
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(b0))
    Graph.ingestCcBatch(b1, dir, 1L)
    val all1 = b0.unionAll(b1)
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(all1))
    // a checkpoint-retried batch merges NOTHING and touches no bytes —
    // exactly-once from idempotence alone (no stamp): file census
    def census(): Set[(String, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/cclabels"), true)
      val b = Set.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_"))
          b += ((f.getPath.toString, f.getModificationTime))
      }
      b.result()
    }
    val before = census()
    Graph.ingestCcBatch(b1, dir, 1L)
    assert(census() === before, "a duplicate resend must leave the store byte-untouched")
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(all1))
    // crash mid-apply window (marker + labels renamed to .compacting):
    // the retried batch repairs, then re-merges idempotently
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/cclabels"),
      new org.apache.hadoop.fs.Path(s"$dir/cclabels.compacting")))
    Seq("appendCcStore").toDF("op").write.parquet(s"$dir/inflight")
    Graph.ingestCcBatch(b1, dir, 1L)
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(all1))
    // a full batch write RETIRES the stream pin: the next ingest batch
    // re-claims the root instead of appending to the replaced base
    Graph.writeCcStore(b0, dir)
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(b0))
    Graph.ingestCcBatch(b1, dir, 7L) // no pin -> claim, not append
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(b1))
    // re-pointing: a fresh stream's batch 0 replaces the whole store
    Graph.ingestCcBatch(b0, dir, 0L)
    assert(labelMap(Graph.readCcLabels(spark, dir)) === batchCc(b0))
  }

  test("cc label store: a merge batch rewrites ONLY the buckets of remapped components") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("ccbuckets").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 100 two-node components spread over the 64 comp-hash buckets
    val base = (0L until 200L by 2L).map(i => (i, i + 1)).toDF("src", "dst")
    Graph.writeCcStore(base, dir)
    def census(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/cclabels"), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_"))
          b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    def bucketOf(path: String): String =
      path.split("/").find(_.startsWith("bucket=")).getOrElse(sys.error(s"no bucket in $path"))
    val before = census()
    // merge components {4,5} and {6,7}: comp 6 remaps into comp 4 — the
    // write set is exactly {bucket(4), bucket(6)}
    Graph.appendCcStore(Seq((5L, 6L)).toDF("src", "dst"), dir)
    val after = census()
    val touched = Seq(4L, 6L).toDF("comp")
      .select(Graph.labelBucket(col("comp")).as("b")).distinct()
      .collect().map(r => s"bucket=${r.getInt(0)}").toSet
    val changed = (after.keySet -- before.keySet) ++ (before.keySet -- after.keySet) ++
      before.keySet.intersect(after.keySet).filter(k => before(k) != after(k))
    assert(changed.nonEmpty, "the merge must rewrite its touched buckets")
    assert(changed.map(bucketOf).subsetOf(touched),
      s"untouched buckets rewritten: ${changed.map(bucketOf) -- touched}")
    info(s"cc buckets present: ${after.keySet.map(bucketOf).size}, rewritten: ${touched.size}")
    assert(after.keySet.map(bucketOf).size > touched.size * 4, "fixture too small")
    // labels still correct end to end
    val got = Graph.readCcLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) === 4L && got(5L) === 4L && got(0L) === 0L, got.toString)
    // a removal's write set is likewise the touched + re-solved buckets
    val before2 = census()
    Graph.removeFromCcStore(
      Seq((5L, 6L)).toDF("src", "dst"),
      base,
      dir)
    val after2 = census()
    val changed2 = (after2.keySet -- before2.keySet) ++ (before2.keySet -- after2.keySet) ++
      before2.keySet.intersect(after2.keySet).filter(k => before2(k) != after2(k))
    // touched comp 4 re-solves to comps {4, 6}: write set ⊆ their buckets
    assert(changed2.map(bucketOf).subsetOf(touched),
      s"removal rewrote untouched buckets: ${changed2.map(bucketOf) -- touched}")
    val got2 = Graph.readCcLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2(5L) === 4L && got2(6L) === 6L && got2(7L) === 6L, got2.toString)
  }

  test("wedgeCandidates: a delta edge onto a hub scans the SMALL endpoint's adjacency") {
    val s = spark
    import s.implicits._
    // hub 0 with spokes 1..100; tail 200-201-202; delta edge (0, 200)
    val live = ((1L to 100L).map(i => (0L, i)) ++
      Seq((0L, 200L), (200L, 201L), (201L, 202L))).toDF("src", "dst")
      .selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v")
      .localCheckpoint()
    val delta = Seq((0L, 200L)).toDF("u", "v").localCheckpoint()
    val n = Graph.wedgeCandidates(delta, live).count()
    info(s"oriented wedge candidates: $n (hub-anchored would be ${101L})")
    // deg(200) = 2 -> anchor x = 200, candidates = its OTHER neighbor 201
    // (the delta partner 0 is filtered); anchoring at the hub would have
    // enumerated 100+ spokes
    assert(n === 1L, s"expected 1 candidate, got $n")
    // correctness unchanged: no triangle closes, so no credits anywhere
    assert(supMap(Graph.triangleSupport(live.selectExpr("u AS src", "v AS dst")))
      .values.forall(_ === 0L))
  }

  test("edge store: the bucket count is a store pin — 16-bucket layout mutates green") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("bucketpin").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = (1L to 100L).map(i => (i, i + 1)).toDF("src", "dst")
    Graph.writeEdgeStore(base, dir, buckets = 16)
    // the layout really is 16-wide, and the mutators read the pin (a
    // 64-bucket binary default would scatter the swap across alien dirs)
    def bucketDirs(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/support"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(bucketDirs().forall(d => d.stripPrefix("bucket=").toInt < 16), bucketDirs().toString)
    assert(Graph.storeBuckets(spark, dir) === 16)
    Graph.appendEdgeStore(Seq((1L, 3L)).toDF("src", "dst"), dir)
    Graph.removeFromEdgeStore(Seq((7L, 8L)).toDF("src", "dst"), dir)
    val want = base.unionAll(Seq((1L, 3L)).toDF("src", "dst"))
      .filter(!(col("src") === 7L && col("dst") === 8L))
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(want)))
    assert(bucketDirs().forall(d => d.stripPrefix("bucket=").toInt < 16))
    // an alien bucket-FUNCTION version must refuse, never silently swap
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/bucketing"), true)
    out.write("v0\n16".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException](
      Graph.appendEdgeStore(Seq((2L, 4L)).toDF("src", "dst"), dir))
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // the cc store pins likewise
    val cdir = java.nio.file.Files.createTempDirectory("ccbucketpin").toString
    Graph.writeCcStore((0L until 40L by 2L).map(i => (i, i + 1)).toDF("src", "dst"),
      cdir, buckets = 16)
    assert(Graph.storeBuckets(spark, cdir) === 16)
    Graph.appendCcStore(Seq((1L, 2L)).toDF("src", "dst"), cdir)
    val got = Graph.readCcLabels(spark, cdir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) === 0L && got(2L) === 0L && got(4L) === 4L, got.toString)
  }

  test("cc store: nodeidx mirrors cclabels exactly; membership probes prune to node buckets") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("nodeidx").toString
    val base = (0L until 200L by 2L).map(i => (i, i + 1)).toDF("src", "dst")
    Graph.writeCcStore(base, dir)
    // the index is OPT-IN (stores that never remove skip the second
    // tree); building it backfills from the current labels
    Graph.buildCcNodeIndex(spark, dir)
    def rows(sub: String): Set[(Long, Long)] =
      spark.read.parquet(s"$dir/$sub").select("node", "comp")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows("nodeidx") === rows("cclabels"))
    // a merge keeps the mirror in lockstep (remapped rows + new nodes)
    Graph.appendCcStore(Seq((5L, 6L), (300L, 301L)).toDF("src", "dst"), dir)
    assert(rows("nodeidx") === rows("cclabels"))
    // a removal splices both trees identically
    Graph.removeFromCcStore(
      Seq((5L, 6L)).toDF("src", "dst"),
      base.unionAll(Seq((300L, 301L)).toDF("src", "dst")),
      dir)
    assert(rows("nodeidx") === rows("cclabels"))
    // the membership probe (removeFromCcStore's first read) PRUNES: the
    // comp-keyed primary cannot answer a node lookup without a full scan;
    // the node-keyed secondary reads only the probed nodes' buckets
    val probe = Seq(4L, 17L).toDF("node").localCheckpoint()
    val lookup = Graph.ccCompsOfNodes(
      spark, dir, probe, spark.read.parquet(s"$dir/cclabels"),
      Graph.storeBuckets(spark, dir))
    lookup.count()
    val p = lookup.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p.take(1500))
    val scanned = lookup.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }.sum
    assert(scanned <= 2, s"node probe must prune to <= 2 node buckets, scanned $scanned")
  }

  test("edge store: one append mutation stays inside the fused driver-job budget") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("jobbudget").toString
    val base = (1L to 200L).map(i => (i, i + 1)).toDF("src", "dst")
    Graph.writeEdgeStore(base, dir)
    val (_, counts) =
      Census.measure(spark)(Graph.appendEdgeStore(Seq((1L, 3L)).toDF("src", "dst"), dir))
    info(s"jobs for one appendEdgeStore: ${counts.jobs}")
    // the round-16 protocol paid 25 driver-scheduled jobs per append (AQE
    // materialized every shuffle stage as its own job, plus two separate
    // decision probes and a full liveNew materialization); the two-phase
    // path runs ~17: the corpus-shaped delta materialization under AQE,
    // then a non-adaptive delta-sized tail — three checkpoints, ONE fused
    // probe, one bucket collect, three writes — with the remainder
    // broadcast-exchange builds, which schedule off-thread and are the
    // cheap kind. The bound fails if AQE creeps back into the tail or a
    // per-step probe returns
    assert(counts.jobs <= 20, s"append exceeded the fused job budget: ${counts.jobs}")
    assert(supMap(Graph.readEdgeSupport(spark, dir)) ===
      supMap(Graph.triangleSupport(base.unionAll(Seq((1L, 3L)).toDF("src", "dst")))))
  }

  test("cc stream store: as-of reads replay the remap log; any unlogged mutation refuses") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("ccasof").toString
    def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def batchCc(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.ops.Dedup.clusterPairs(
        edges.selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v"), "u", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val b1 = Seq((2L, 3L), (20L, 21L)).toDF("src", "dst") // merges {1,2}+{3,4}
    val b2 = Seq((11L, 20L)).toDF("src", "dst") // merges {10,11}+{20,21}
    Graph.ingestCcBatch(b0, dir, 0L)
    Graph.ingestCcBatch(b1, dir, 1L)
    Graph.ingestCcBatch(b2, dir, 2L)
    // each generation's labels reconstruct from the log alone
    assert(labelMap(Graph.readCcLabelsAsOf(spark, dir, 0L)) === batchCc(b0))
    assert(labelMap(Graph.readCcLabelsAsOf(spark, dir, 1L)) === batchCc(b0.unionAll(b1)))
    assert(labelMap(Graph.readCcLabelsAsOf(spark, dir, 2L)) ===
      batchCc(b0.unionAll(b1).unionAll(b2)))
    // ... and the latest as-of equals the live read
    assert(labelMap(Graph.readCcLabelsAsOf(spark, dir, 2L)) ===
      labelMap(Graph.readCcLabels(spark, dir)))
    // an UNLOGGED batch append truncates the log: as-of must refuse with
    // the truncation stated, not replay a log that stopped being true
    Graph.appendCcStore(Seq((4L, 10L)).toDF("src", "dst"), dir)
    val e1 = intercept[IllegalArgumentException](Graph.readCcLabelsAsOf(spark, dir, 1L))
    assert(e1.getMessage.contains("generation log"), e1.getMessage)
    // a batch-built store never had one
    val bdir = java.nio.file.Files.createTempDirectory("ccasofbatch").toString
    Graph.writeCcStore(b0, bdir)
    val e2 = intercept[IllegalArgumentException](Graph.readCcLabelsAsOf(spark, bdir, 0L))
    assert(e2.getMessage.contains("generation log"), e2.getMessage)
  }

  test("edge store: removing every live edge leaves a READABLE empty support tree") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("emptystore").toString
    val base = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    Graph.writeEdgeStore(base, dir)
    // every populated bucket empties: without a schema-bearing seed file
    // the support tree would be all-bare dirs and parquet schema
    // inference would throw on the next read (round-17 advisory)
    Graph.removeFromEdgeStore(base, dir)
    assert(Graph.readEdgeSupport(spark, dir).count() === 0L)
    assert(Graph.readTriangleCounts(spark, dir).count() === 0L)
  }

  test("edge store: a compact crash window cannot strand already-applied tombstones") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("compactcrash").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    Graph.writeEdgeStore(base, dir)
    Graph.removeFromEdgeStore(Seq((2L, 3L)).toDF("src", "dst"), dir)
    // simulate a compactEdgeStore crash AFTER its staged commit: the
    // tree is laid out exactly as stageAndApply stages it (flat live
    // edges + a clear_tombstones manifest), marker planted, committed.
    // The round-16 two-step protocol's repair would have cleared the
    // marker but LEFT the tombstones, refusing this re-insert forever.
    val tmp = s"$dir/staged.compacting"
    Seq((1L, 2L), (1L, 3L)).toDF("u", "v").write.parquet(s"$tmp/edges_delta")
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$tmp/op"), true)
    out.write("compactEdgeStore\nedges\nreplace\n\nclear_tombstones".getBytes("UTF-8"))
    out.close()
    Seq("compactEdgeStore").toDF("op").write.parquet(s"$dir/inflight")
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(s"$dir/staged")))
    // the next mutator rolls the compact forward — edges rewritten AND
    // tombstones cleared in the same apply — so re-inserting the
    // physically-gone edge succeeds
    Graph.appendEdgeStore(Seq((2L, 3L)).toDF("src", "dst"), dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(base)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
  }

  test("stream edge store: a legacy store without the plain-file stamp refuses by name") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("legacystamp").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Graph.ingestEdgeBatch(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), dir, 0L)
    // simulate a round-16 layout: the stamp file does not exist
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/support_stamp"), false)
    val e = intercept[IllegalStateException](
      Graph.ingestEdgeBatch(Seq((3L, 4L)).toDF("src", "dst"), dir, 1L))
    assert(e.getMessage.contains("batch 0"), e.getMessage)
  }

  test("edge store: rebucket relays the layout content-preservingly; windows re-run") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("rebucket").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = (1L to 200L).map(i => (i, i + 1)).toDF("src", "dst")
    Graph.writeEdgeStore(base, dir)
    Graph.appendEdgeStore(Seq((1L, 3L)).toDF("src", "dst"), dir)
    val before = supMap(Graph.readEdgeSupport(spark, dir))
    Graph.rebucketEdgeStore(spark, dir, 16)
    // content identical, layout + pin resized — never a recount
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === before)
    assert(Graph.storeBuckets(spark, dir) === 16)
    def bucketDirs(): Set[Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/support"))
        .filter(_.isDirectory).map(_.getPath.getName.stripPrefix("bucket=").toInt).toSet
    assert(bucketDirs().forall(_ < 16), bucketDirs().toString)
    // mutations after the resize prune against the NEW layout
    Graph.removeFromEdgeStore(Seq((1L, 3L)).toDF("src", "dst"), dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(base)))
    // an interrupted relayout refuses OTHER mutators with the re-run
    // named (a generic roll-forward would split layout from pin)...
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/inflight"), true)
    out.write("rebucketEdgeStore".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException](
      Graph.appendEdgeStore(Seq((9L, 11L)).toDF("src", "dst"), dir))
    assert(e.getMessage.contains("rebucketEdgeStore"), e.getMessage)
    // ...and the re-run itself recovers from the window, any target count
    Graph.rebucketEdgeStore(spark, dir, 8)
    assert(Graph.storeBuckets(spark, dir) === 8)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) === supMap(Graph.triangleSupport(base)))
    Graph.appendEdgeStore(Seq((9L, 11L)).toDF("src", "dst"), dir)
    assert(supMap(Graph.readEdgeSupport(spark, dir)) ===
      supMap(Graph.triangleSupport(base.unionAll(Seq((9L, 11L)).toDF("src", "dst")))))
  }

  test("cc store: rebucket relays labels and nodeidx together; the remap log survives") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("ccrebucket").toString
    val b0 = (0L until 100L by 2L).map(i => (i, i + 1)).toDF("src", "dst")
    val b1 = Seq((1L, 2L), (51L, 52L)).toDF("src", "dst")
    Graph.ingestCcBatch(b0, dir, 0L)
    Graph.ingestCcBatch(b1, dir, 1L)
    Graph.buildCcNodeIndex(spark, dir)
    def rows(sub: String): Set[(Long, Long)] =
      spark.read.parquet(s"$dir/$sub").select("node", "comp")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = rows("cclabels")
    val asof0 = Graph.readCcLabelsAsOf(spark, dir, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Graph.rebucketCcStore(spark, dir, 16)
    assert(Graph.storeBuckets(spark, dir) === 16)
    assert(rows("cclabels") === before)
    assert(rows("nodeidx") === before)
    // the log is layout-independent: as-of reads survive the resize
    assert(Graph.readCcLabelsAsOf(spark, dir, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === asof0)
    // mutations after the resize keep both trees in lockstep
    Graph.ingestCcBatch(Seq((3L, 4L)).toDF("src", "dst"), dir, 2L)
    assert(rows("nodeidx") === rows("cclabels"))
  }

  test("cc log: compactCcLog folds the prefix exactly; below-fold reads refuse") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("ccfold").toString
    def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val b1 = Seq((2L, 3L), (20L, 21L)).toDF("src", "dst")
    val b2 = Seq((11L, 20L)).toDF("src", "dst")
    Graph.ingestCcBatch(b0, dir, 0L)
    Graph.ingestCcBatch(b1, dir, 1L)
    Graph.ingestCcBatch(b2, dir, 2L)
    val asof1 = labelMap(Graph.readCcLabelsAsOf(spark, dir, 1L))
    val asof2 = labelMap(Graph.readCcLabelsAsOf(spark, dir, 2L))
    Graph.compactCcLog(spark, dir, 1L)
    // the fold point itself and everything above stay exact
    assert(labelMap(Graph.readCcLabelsAsOf(spark, dir, 1L)) === asof1)
    assert(labelMap(Graph.readCcLabelsAsOf(spark, dir, 2L)) === asof2)
    // below the fold: resolution is gone, stated
    val e0 = intercept[IllegalArgumentException](Graph.readCcLabelsAsOf(spark, dir, 0L))
    assert(e0.getMessage.contains("folded"), e0.getMessage)
    // a fold can only move forward
    val eb = intercept[IllegalArgumentException](Graph.compactCcLog(spark, dir, 0L))
    assert(eb.getMessage.contains("forward"), eb.getMessage)
    // a duplicate resend of an already-folded batch still lands nothing
    Graph.ingestCcBatch(b1, dir, 1L)
    assert(labelMap(Graph.readCcLabelsAsOf(spark, dir, 2L)) === asof2)
    // folding everything leaves the live read intact
    Graph.compactCcLog(spark, dir, 2L)
    assert(labelMap(Graph.readCcLabelsAsOf(spark, dir, 2L)) ===
      labelMap(Graph.readCcLabels(spark, dir)))
  }

  test("triangle kernels: small-graph fast path ≡ distributed enumeration") {
    // random multigraphs with duplicates and self-loops: the single-task
    // adjacency-intersection kernels (default cutoff) and the distributed
    // degree-oriented wedge joins (cutoff 0) must agree exactly — support
    // counts and per-node triangle counts are algorithm-independent
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(500)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      def maps(s: org.apache.spark.sql.SparkSession) = {
        import s.implicits._
        val edges = pairs.toDF("src", "dst")
        val sup = Graph.triangleSupport(edges).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val tri = Graph.triangleCounts(edges).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        (sup, tri)
      }
      val (supLocal, triLocal) = maps(spark)
      val (supDist, triDist) = SparkSpec.withIsolatedConf(
        "spark.graft.graph.localEdgeCutoff" -> "0")(maps)
      assert(supLocal == supDist, s"seed $seed: per-edge supports differ")
      assert(triLocal == triDist, s"seed $seed: per-node triangle counts differ")
      assert(supLocal.nonEmpty && triLocal.nonEmpty)
    }
  }
}
