package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge DataFrames. The cluster-side
  * counterpart of the reference repo's per-client rollups: once scan /
  * event / corpus data is modeled as edges, ranking and structure
  * queries run as ordinary joins + aggregations.
  *
  * Everything here is INTEGER arithmetic in milli-units: a float
  * PageRank's sums are summation-order-dependent and can never
  * hash-match an oracle; integer division makes every iteration's result
  * bit-identical across engines and run-to-run (same move as
  * [[TextAnalysis.unigramRarity]]).
  */
object Graph {

  /** Integer PageRank (milli-units) over a directed edge list `(src,
    * dst)`. Each node starts at rank 1000; per iteration every node
    * sends `rank div out_degree` along each out-edge and new rank =
    * `teleportMilli + (dampingMilli * Σ inbound) div 1000` — the standard
    * damped random walk, un-normalized (ranks are relative scores, not a
    * probability distribution; with damping 850 the un-normalized fixed
    * point is the same ordering PageRank gives). Nodes with no in-edges
    * hold at the teleport floor. DANGLING nodes (no out-edges — sinks)
    * simply absorb: their rank mass is dropped each iteration rather than
    * redistributed over all nodes, so total mass is NOT conserved — a
    * deliberate, oracle-stable departure from textbook PageRank (the
    * redistribution term would add an all-nodes broadcast join per
    * iteration for no change in ordering on the graphs this ranks).
    * Callers needing a true probability distribution should normalize
    * downstream; callers comparing ranks across runs of the SAME graph
    * are unaffected.
    *
    * Scale shape — the iterative-algorithm discipline this repo learned
    * the hard way on IVF (see SCALE.md): the edge and degree tables are
    * materialized ONCE before the loop and every iteration's rank table
    * is `localCheckpoint`ed, so iteration N's plan is one join + one
    * aggregation, never a re-evaluation of iterations 1..N-1 (an
    * unmaterialized loop is exponential in lineage). Each iteration
    * shuffles the edge list once on `src` (the join; the rank side is
    * node-count-sized and AQE broadcasts it at typical graph shapes) and
    * once on `dst` (the inbound aggregation, partial map-side — a
    * celebrity node's million in-edges pre-reduce inside each map task).
    * Hot sources replicate via the broadcast, so skew lands only on the
    * partial-agg path, which absorbs it.
    */
  def pageRankMilli(
      edges: DataFrame,
      iters: Int = 3,
      dampingMilli: Long = 850,
      teleportMilli: Long = 150): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long")).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // the out-degree is static across iterations, so it rides IN the rank
    // table (one join at init) instead of re-joining every iteration —
    // each loop body is exactly one edge join + one inbound aggregation
    val nodes = e
      .select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
      .localCheckpoint()
    var r = nodes.select(col("node"), col("deg"), lit(1000L).as("rank_milli"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(
          r.select(col("node").as("src"), col("deg"), col("rank_milli"))
            .filter(col("deg") > 0),
          "src")
        .select(col("dst").as("node"), expr("rank_milli div deg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("inbound"))
      r = nodes
        .join(contrib, Seq("node"), "left")
        // `div`, not `/`: Spark's `/` on longs is floating-point division
        .select(
          col("node"),
          col("deg"),
          expr(s"CAST($teleportMilli + ($dampingMilli * coalesce(inbound, 0L)) div 1000 AS BIGINT)")
            .as("rank_milli"))
        .localCheckpoint()
    }
    r.select("node", "rank_milli")
  }

  /** PERSONALIZED PageRank (integer milli) — [[pageRankMilli]] with the
    * teleport mass pinned to a SEED set: relevance FROM somewhere
    * ("pages like the ones this user visits", "suppliers reachable from
    * these customers") instead of global importance. Seeds start at 1000
    * milli, everyone else at 0; per iteration `rank = (seed ?
    * teleportMilli : 0) + (dampingMilli · Σ inbound) div 1000` — the
    * random walk restarts only at seeds, so mass decays with distance
    * from the seed set and unreachable nodes hold at exactly 0. Same
    * deterministic integer arithmetic, dangling-sink absorption, and
    * un-normalized-scores contract as the global operator. `seeds` must
    * carry a `node` column (castable to long); seeds absent from the
    * edge list ARE kept — an isolated seed reports its teleport floor,
    * distinguishable from an unreachable non-seed's exact 0.
    *
    * Scale shape: identical to [[pageRankMilli]] — the seed flag rides
    * the node table like the out-degree does (one extra broadcast-sized
    * join at init, zero per-iteration cost).
    */
  def personalizedPageRankMilli(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 3,
      dampingMilli: Long = 850,
      teleportMilli: Long = 150): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long")).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val seedSet = seeds.select(col("node").cast("long").as("node")).distinct()
    // seeds union'd into the node universe: an isolated seed (no edges)
    // still holds its teleport floor instead of silently vanishing
    val nodes = e
      .select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(seedSet.select(col("node")))
      .distinct()
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .join(seedSet.withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(
        col("node"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("__s"), lit(0L)).as("s"))
      .localCheckpoint()
    var r = nodes.select(col("node"), col("deg"), col("s"), (col("s") * 1000L).as("rank_milli"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(
          r.select(col("node").as("src"), col("deg"), col("rank_milli"))
            .filter(col("deg") > 0 && col("rank_milli") > 0),
          "src")
        .select(col("dst").as("node"), expr("rank_milli div deg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("inbound"))
      r = nodes
        .join(contrib, Seq("node"), "left")
        .select(
          col("node"),
          col("deg"),
          col("s"),
          expr(
            s"CAST(s * $teleportMilli + ($dampingMilli * coalesce(inbound, 0L)) div 1000 " +
              "AS BIGINT)")
            .as("rank_milli"))
        .localCheckpoint()
    }
    r.select("node", "rank_milli")
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge list —
    * the bipartite-flavored ranking PageRank can't express: a good HUB
    * points at good authorities, a good AUTHORITY is pointed at by good
    * hubs (buyers vs suppliers, crawlers vs canonical pages). Integer
    * milli with MAX-normalization per half-step (the L2 norm's sqrt would
    * break engine-exactness; max-norm preserves the ordering, which is
    * what HITS is for — the top hub/authority always reads exactly 1000):
    * per iteration `auth(v) = Σ hub(u) over in-edges` then normalize,
    * then `hub(u) = Σ auth(v) over out-edges` from the FRESH authorities,
    * then normalize — Kleinberg's authority-first sweep. Nodes with no
    * in-edges hold authority 0, no out-edges hub 0; both scores are
    * relative, not a distribution. Fixed `iters`, so the result is
    * deterministic and oracle-hashable.
    *
    * Scale shape: identical to [[pageRankMilli]] — edges and the node
    * table materialized once, each half-step is one edge join + one
    * map-side-combinable aggregation plus a broadcast 1-row max, every
    * iteration's table `localCheckpoint`ed (lineage stays linear).
    */
  def hitsMilli(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val e = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    val nodes = e
      .select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    def normalize(raw: DataFrame, out: String): DataFrame = {
      val m = raw.agg(max("raw").as("__m"))
      nodes
        .join(
          raw.crossJoin(broadcast(m))
            .select(col("node"), expr("CAST((1000 * raw) div __m AS BIGINT)").as(out)),
          Seq("node"),
          "left")
        .select(col("node"), coalesce(col(out), lit(0L)).as(out))
        .localCheckpoint()
    }
    var hub = nodes.select(col("node"), lit(1000L).as("hub_milli"))
    var auth = nodes.select(col("node"), lit(1000L).as("auth_milli"))
    for (_ <- 1 to iters) {
      auth = normalize(
        e.join(hub.select(col("node").as("src"), col("hub_milli")), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum("hub_milli").as("raw")),
        "auth_milli")
      hub = normalize(
        e.join(auth.select(col("node").as("dst"), col("auth_milli")), "dst")
          .groupBy(col("src").as("node"))
          .agg(sum("auth_milli").as("raw")),
        "hub_milli")
    }
    hub.join(auth, Seq("node")).select("node", "hub_milli", "auth_milli")
  }

  /** Per-node triangle counts over an undirected graph given as a (src,
    * dst) edge list (direction ignored, self-loops and duplicate edges
    * dropped). Returns one row per node that closes at least one triangle.
    *
    * Scale shape — the degree-orientation algorithm (Cohen 2009 /
    * "MapReduce triangle enumeration"): every canonical edge is oriented
    * from its (degree, id)-smaller endpoint to the larger, which caps any
    * node's OUT-degree at O(√m) regardless of its in-degree — a celebrity
    * node's million followers generate wedges AT the followers, never a
    * million² blow-up at the celebrity. Wedge generation is then the
    * oriented list self-joined on the apex (equi-join, AQE-skew-
    * splittable), closed by one equi-join against the canonical edge set,
    * and the per-corner counts are a map-side-partial explode+agg. The
    * canonical edge table feeds three consumers (both wedge sides + the
    * closing join), hence the materialization.
    */
  /** Deterministic synchronous label propagation (community detection —
    * Raghavan et al. 2007, the tie-broken variant): labels start as node
    * ids; every round each node adopts its neighbors' most frequent
    * label, ties to the SMALLEST label, for a FIXED number of rounds —
    * no fixpoint test, so the whole run is deterministic and
    * oracle-unrollable (the Lloyd-loop discipline). Edges are
    * symmetrized internally; after convergence the label column IS the
    * community id (topic clusters in a link graph, account rings in an
    * interaction graph — the community-structure complement of
    * [[graft.ops.Dedup.clusterPairs]]' pure connectivity).
    *
    * Scale shape: the symmetrized edge list materializes once; each
    * round is one equi-join (edge × label, label side node-count-sized —
    * AQE broadcasts it on typical graphs) + one (node, label) count
    * aggregation + one max-struct argmax aggregation — both partial-
    * aggregate map-side, so a celebrity node's million edges pre-reduce
    * per task and its argmax sees at most its distinct neighbor LABELS,
    * never its degree. No window over the node key. Per-round
    * localCheckpoint keeps iteration N's plan flat (see SCALE.md).
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1, 16], got $rounds")
    val und = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .unionAll(
        edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = und
      .select(col("src").as("node"))
      .distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      labels = und
        .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("src")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).cast("long").as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** k-core decomposition (Seidman 1983): the maximal induced subgraph in
    * which every vertex keeps degree >= k, found by iterating
    * `surv := {v : |N(v) ∩ surv| >= k}` to fixpoint. The iteration is
    * MONOTONE (a removed vertex's neighbor count against any later,
    * smaller survivor set can only shrink, so it can never be re-admitted)
    * — which gives two load-bearing properties: the fixpoint is the
    * unique k-core regardless of evaluation order, and "survivor COUNT
    * unchanged" is equivalent to "survivor SET unchanged", so the loop's
    * convergence check is one cheap `count()` per round, not a set
    * comparison. Returns the core's vertices with their final induced
    * degrees `(node, deg)`.
    *
    * Scale shape: the symmetrized edge list is materialized ONCE before
    * the loop; each round is one equi-join (edges x survivor set — AQE
    * broadcasts the survivor side once peeling shrinks it) + one
    * map-side-combinable degree aggregation, with the per-round
    * localCheckpoint keeping iteration N's plan flat (the iterative
    * discipline of [[pageRankMilli]]). Rounds-to-fixpoint is a property
    * of graph STRUCTURE (the peel cascade depth), not graph size — the
    * registry fixture converges in 1 round at every scale factor — but
    * degenerate chains can cascade O(|V|), hence the hard `maxRounds`
    * bound: the loop stops early at fixpoint and throws if the bound is
    * hit before convergence rather than silently returning a non-core.
    * The depth bound, precisely: a round removes every vertex whose
    * survivor-degree is < k, so rounds = the longest "removal cascade".
    * A free-standing path at k=2 peels two endpoints per round — exactly
    * ⌈|V|/2⌉ rounds (GraphSpec pins a 32-chain at 16) — but a pendant
    * path anchored on a surviving core peels from its free end only, ONE
    * vertex per round, so the honest worst case is O(|V|); real graphs
    * converge in a handful of rounds (each round removes whole shells).
    * When the cascade IS deep — near-chain topology at small k — this
    * loop is the wrong tool: use
    * [[coreNumbers]] (the h-index iteration), whose per-round cost is
    * the same two shuffles but which computes EVERY k at once, so one
    * run replaces the per-k peels; or raise maxRounds toward the ⌈|V|/2⌉
    * ceiling knowingly.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 64, s"maxRounds must be in [1, 64], got $maxRounds")
    val und = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = und
      .unionAll(und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var surv = sym.select(col("src").as("node")).distinct().localCheckpoint()
    var prev = surv.count()
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      val next = sym
        .join(surv.select(col("node").as("dst")), Seq("dst"))
        .groupBy("src")
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= k)
        .select(col("src").as("node"))
        .localCheckpoint()
      val n = next.count()
      converged = n == prev // monotone shrink: count equality = set equality
      prev = n
      surv = next
      r += 1
    }
    require(
      converged || prev == 0L,
      s"k-core peel did not converge within $maxRounds rounds (still $prev survivors) — " +
        "raise maxRounds; a deep cascade usually means a near-chain graph at this k")
    sym
      .join(surv.select(col("node").as("src")), Seq("src"))
      .join(surv.select(col("node").as("dst")), Seq("dst"))
      .groupBy("src")
      .agg(count(lit(1)).cast("long").as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** Core numbers for EVERY vertex at once via the synchronous h-index
    * iteration (Lü, Zhou, Zhang & Stanley, Nature Comms 2016): start at
    * c₀(v) = deg(v) and iterate c(v) := H({c(u) : u ∈ N(v)}), where H is
    * the h-index (the largest h with ≥ h neighbors valued ≥ h). With the
    * degree start the sequence is monotone non-increasing per vertex and
    * its fixpoint is exactly the core number — so one run replaces
    * [[kCore]]'s per-k peel for core-number questions, and the per-vertex
    * value is the "which shell" answer the peel never gives. Like
    * [[labelPropagation]], the round count is FIXED (no fixpoint test):
    * the output is deterministic by construction and the oracle unrolls
    * the same rounds bit-for-bit; at convergence (real graphs: a handful
    * of rounds — shells stabilize together, not two endpoints at a time)
    * the values ARE the core numbers, which GraphSpec proves against the
    * peel on hand graphs. Filtering `core >= k` at the fixpoint yields
    * [[kCore]]'s vertex set.
    *
    * The h-index aggregate uses NO window over raw neighbor rows: each
    * round counts (node, neighbor-value) pairs map-side, runs the
    * cumulative window over DISTINCT values per node (≤ distinct degree
    * values — the [[graft.ops.Stats]] quantile discipline; a celebrity
    * node's million edges pre-reduce per task and its window sees only
    * its distinct neighbor VALUES), and takes h = max(min(value, n≥)):
    * for the true h there are ≥ h neighbors valued ≥ h, so the smallest
    * qualifying value witnesses min ≥ h, and every min(c, n≥(c)) is
    * itself a valid h — the max is exact. Per round: one equi-join + two
    * map-side-combinable aggregates + the distinct-value window, each
    * round localCheckpointed (the [[pageRankMilli]] discipline).
    */
  def coreNumbers(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1, 16], got $rounds")
    import org.apache.spark.sql.expressions.Window
    val und = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = und
      .unionAll(und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var c = sym
      .groupBy("src")
      .agg(count(lit(1)).cast("long").as("core"))
      .select(col("src").as("node"), col("core"))
      .localCheckpoint()
    val w = Window
      .partitionBy("src")
      .orderBy(col("cn").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    for (_ <- 1 to rounds) {
      c = sym
        .join(c.select(col("node").as("dst"), col("core").as("cn")), Seq("dst"))
        .groupBy(col("src"), col("cn"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("n_ge", sum("cnt").over(w))
        .select(col("src"), least(col("cn"), col("n_ge")).as("h"))
        .groupBy("src")
        .agg(max("h").cast("long").as("core"))
        .select(col("src").as("node"), col("core"))
        .localCheckpoint()
    }
    c
  }

  /** The undirected SIMPLE edge set (`u < v`, self-loops and duplicate
    * orientations dropped) every structural op normalizes to first — one
    * definition so the family can never disagree about what "the graph"
    * is. Callers localCheckpoint when they fan out over it.
    */
  private def undirectedEdges(edges: DataFrame): DataFrame =
    edges
      .select(
        least(col("src").cast("long"), col("dst").cast("long")).as("u"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Per-EDGE triangle support over an undirected simple graph — each
    * triangle credits its three edges once; edges in no triangle report
    * 0 (left join, never dropped). The edge-grain complement of
    * [[triangleCounts]]' node credit and the inner step of [[kTruss]].
    * Input must already be (u < v)-normalized distinct edges (the
    * [[kTruss]] loop calls this per round on its surviving set).
    */
  /** Small-graph cutoff for the triangle kernels' single-task fast path,
    * in (u < v)-normalized edge rows — the [[graft.ops.Dedup.ccStarContraction]]
    * discipline applied to support counting: the distributed wedge join is
    * ~5 exchanges / 14 driver jobs (measured sf0.1, all scheduling), while
    * an edge set inside one task's memory answers the SAME canonical
    * counts (per-edge support and per-node triangle counts are
    * algorithm-independent) with one adjacency-intersection pass.
    *
    * Default 200k edges (round-17 advisory — the old 1M default's "tens
    * of MB" claim was wrong): the boxed
    * HashMap[Long, HashSet[Long]] adjacency costs ~100-150 bytes per
    * DIRECTED edge entry (2 entries per edge: boxed Longs, set nodes,
    * table slack), so 200k edges ≈ 40-60 MB of one-task state — safe in
    * any sanely-sized executor, where 1M edges' ~0.5 GB was not. The
    * compute side is the same trade: below the cutoff all Σ min(d(u),d(v))
    * intersection work serializes onto one core, which at 200k edges is
    * bounded by ~2·|E|^1.5 ≈ 2e8 probes worst-case (skew-independent
    * bound) — about a second, the scheduling cost it replaces. Raise the
    * conf only with executor memory to spare; corpus-scale graphs keep
    * the degree-oriented distributed enumeration. Conf-settable; 0
    * disables.
    */
  private def graphLocalCutoff(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.graph.localEdgeCutoff", "200000").toLong

  private def isLongPair(df: DataFrame): Boolean =
    df.schema("u").dataType == org.apache.spark.sql.types.LongType &&
      df.schema("v").dataType == org.apache.spark.sql.types.LongType

  /** Single-task per-edge support: triangles through (u, v) are exactly
    * the common neighbors of u and v, so one adjacency build + one
    * smaller-set-probes-larger intersection per edge — Σ min(d(u), d(v))
    * work, the same envelope as the distributed enumeration. Input must
    * be the deduped (u < v)-normalized edge set, checkpointed (coalesce
    * reads materialized blocks into the one task).
    */
  private def localEdgeSupport(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    und.select(col("u"), col("v")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val edges = it.toArray
        val adj = new java.util.HashMap[Long, java.util.HashSet[java.lang.Long]]()
        def add(a: Long, b: Long): Unit = {
          var s = adj.get(a)
          if (s == null) { s = new java.util.HashSet[java.lang.Long](); adj.put(a, s) }
          s.add(b); ()
        }
        edges.foreach { case (u, v) => add(u, v); add(v, u) }
        edges.iterator.map { case (u, v) =>
          val su = adj.get(u)
          val sv = adj.get(v)
          val (small, big) = if (su.size <= sv.size) (su, sv) else (sv, su)
          var c = 0L
          val i = small.iterator()
          while (i.hasNext) {
            val w = i.next().longValue()
            if (w != u && w != v && big.contains(w)) c += 1L
          }
          (u, v, c)
        }
      }
      .toDF("u", "v", "support")
  }

  private def edgeSupport(und: DataFrame): DataFrame = {
    if (isLongPair(und)) {
      val n = und.count() // cheap: callers pass checkpointed sets by contract
      if (n > 0L && n <= graphLocalCutoff(und.sparkSession)) return localEdgeSupport(und)
    }
    val deg = und
      .select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v"))
          .as("a"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u"))
          .as("b"))
      .localCheckpoint()
    val tri = oriented
      .select(col("a"), col("b").as("w1"))
      .join(oriented.select(col("a"), col("b").as("w2")), Seq("a"))
      .filter(col("w1") < col("w2"))
      .join(und, col("u") === col("w1") && col("v") === col("w2"))
      .select("a", "w1", "w2")
    val credits = tri.select(
      explode(
        array(
          struct(least(col("a"), col("w1")).as("u"), greatest(col("a"), col("w1")).as("v")),
          struct(least(col("a"), col("w2")).as("u"), greatest(col("a"), col("w2")).as("v")),
          struct(col("w1").as("u"), col("w2").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).cast("long").as("support"))
    und.join(credits, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("support"), lit(0L)).as("support"))
  }

  /** k-truss (Cohen 2008) — the cohesive-subgraph workhorse between
    * "connected" (too loose) and "clique" (too strict): the maximal
    * subgraph where EVERY edge sits in ≥ k−2 triangles of the subgraph
    * itself. Computed by the standard peel: drop under-supported edges,
    * recount support on the survivors (removals cascade — a triangle
    * dies with any of its edges), repeat. `rounds` is FIXED (no
    * data-dependent early exit), so the result is deterministic and the
    * oracle unrolls the same count; the peel is monotone, so extra
    * rounds past the fixpoint are no-ops and too few rounds yield a
    * documented superset ("k-truss after `rounds` peels"). Most graphs
    * converge in a handful of rounds; raise `rounds` for adversarial
    * chains. Output: the surviving edges with their FINAL recounted
    * support (≥ k−2 only at the fixpoint).
    *
    * Scale shape: `rounds`+1 [[edgeSupport]] passes, each the
    * [[triangleCounts]] wedge join (Σ min-degree-bounded) over a
    * shrinking edge set, each round's survivors localCheckpointed (the
    * [[pageRankMilli]] iterative discipline — round N never re-evaluates
    * rounds 1..N−1).
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k=2 is every edge), got $k")
    require(rounds >= 1 && rounds <= 20, s"rounds must be in [1, 20], got $rounds")
    var cur = undirectedEdges(edges).localCheckpoint()
    for (_ <- 1 to rounds) {
      cur = edgeSupport(cur)
        .filter(col("support") >= (k - 2).toLong)
        .select("u", "v")
        .localCheckpoint()
    }
    edgeSupport(cur).withColumn("k", lit(k.toLong))
  }

  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsOn(undirectedEdges(edges).localCheckpoint())

  /** [[triangleCounts]] over an ALREADY (u < v)-normalized, checkpointed
    * edge set — the fan-out face (the [[edgeSupport]] pattern): callers
    * that also need the normalized edges for a degree aggregate
    * ([[clusteringCoeff]]) normalize + checkpoint once and thread it in,
    * instead of re-evaluating the distinct() subtree per consumer.
    */
  /** Single-task per-node triangle counts (the [[localEdgeSupport]]
    * discipline): each triangle {a < b < c} is found once from its (a, b)
    * edge as a common neighbor w > b, credited to all three corners;
    * triangle-free nodes emit nothing — exactly the distributed
    * aggregation's contract.
    */
  private def localTriangleCounts(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    und.select(col("u"), col("v")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val edges = it.toArray
        val adj = new java.util.HashMap[Long, java.util.HashSet[java.lang.Long]]()
        def add(a: Long, b: Long): Unit = {
          var s = adj.get(a)
          if (s == null) { s = new java.util.HashSet[java.lang.Long](); adj.put(a, s) }
          s.add(b); ()
        }
        edges.foreach { case (u, v) => add(u, v); add(v, u) }
        val cnt = new java.util.HashMap[Long, Long]()
        def credit(x: Long): Unit = { cnt.merge(x, 1L, (a, b) => a + b); () }
        edges.foreach { case (u, v) =>
          val su = adj.get(u)
          val sv = adj.get(v)
          val (small, big) = if (su.size <= sv.size) (su, sv) else (sv, su)
          val i = small.iterator()
          while (i.hasNext) {
            val w = i.next().longValue()
            if (w > v && big.contains(w)) { credit(u); credit(v); credit(w) }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val keys = cnt.entrySet().iterator()
        while (keys.hasNext) { val e = keys.next(); out += ((e.getKey, e.getValue)) }
        out.iterator
      }
      .toDF("node", "n_tri")
  }

  private def triangleCountsOn(und: DataFrame): DataFrame = {
    if (isLongPair(und)) {
      val n = und.count() // cheap: callers pass checkpointed sets by contract
      if (n > 0L && n <= graphLocalCutoff(und.sparkSession)) return localTriangleCounts(und)
    }
    val deg = und
      .select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v"))
          .as("a"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u"))
          .as("b"))
      .localCheckpoint()
    val wedges = oriented
      .select(col("a"), col("b").as("w1"))
      .join(oriented.select(col("a"), col("b").as("w2")), Seq("a"))
      .filter(col("w1") < col("w2"))
    wedges
      .join(und, col("u") === col("w1") && col("v") === col("w2"))
      .select(explode(array(col("a"), col("w1"), col("w2"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).cast("long").as("n_tri"))
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998) —
    * "how much of a clique is each node's neighborhood":
    * `lcc_ppm = 2·10⁶·tri(v) div (d·(d−1))` over the undirected simple
    * graph, the per-node readout next to [[triangleCounts]]' counts and
    * [[assortativityMilli]]' one-number structure. Exact integers: the
    * triangle count is [[triangleCounts]]' degree-oriented enumeration
    * (each triangle counted once, credited to all three corners), the
    * coefficient a trunc-div ppm. Every node appears: triangle-free
    * nodes read 0; degree-1 nodes read null (no possible wedge — "not
    * measurable" is not "zero clustering").
    *
    * Scale shape: [[triangleCounts]]' plan (Σ min-degree-bounded wedge
    * join) plus one degree aggregate and one id-keyed left join —
    * nothing new shuffles more than the edge list.
    */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val und = undirectedEdges(edges)
      .localCheckpoint() // one normalization feeds both the degree aggregate and the wedge join
    val deg = und
      .select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).cast("long").as("d"))
    deg
      .join(triangleCountsOn(und), Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn(
        "lcc_ppm",
        expr("CAST(CASE WHEN d >= 2 THEN (2000000 * n_tri) div (d * (d - 1)) END AS BIGINT)"))
  }

  /** Degree assortativity (Newman 2002, Phys. Rev. Lett. 89): the Pearson
    * correlation of endpoint degrees over the undirected edge list, with
    * every edge contributing BOTH orientations (the standard symmetric
    * estimator — r is orientation-free). Positive r = hubs link hubs
    * (social graphs), negative = hubs link leaves (the web, biology) —
    * the one-number structure readout next to [[triangleCounts]]'
    * clustering. Moment sums are exact decimal(38,0) over the doubled
    * edge list ([[graft.ops.Stats.corrMatrixMilli]]'s rule: cast BEFORE
    * the sum); the one float conversion mirrors the corr kernel
    * token-for-token (round 6). Zero degree variance (a regular graph)
    * reads null, not NaN. Output: 1 row `(n_edges, r)` with n_edges the
    * undirected count.
    *
    * Scale shape: one distinct + one degree aggregate + two id-keyed
    * joins pulling degrees onto edges + a 1-row fold — no windows, no
    * pairs beyond the edge list itself.
    */
  def assortativityMilli(edges: DataFrame): DataFrame = {
    val und = undirectedEdges(edges)
      .localCheckpoint() // degree aggregate + the doubled join spine
    val deg = und
      .select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).cast("long").as("d"))
    val both = und
      .unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .join(deg.select(col("node").as("u"), col("d").as("dx")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dy")), Seq("v"))
    both
      .agg(
        count(lit(1)).cast("long").as("n2"),
        sum(expr("CAST(dx AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(dy AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dx")).as("sxx"),
        sum(expr("CAST(dy AS DECIMAL(38,0)) * dy")).as("syy"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dy")).as("sxy"))
      .select(
        expr("CAST(n2 div 2 AS BIGINT)").as("n_edges"),
        expr(
          """CAST(round(
            |  CASE WHEN n2 >= 2
            |        AND (n2 * sxx - sx * sx) > 0
            |        AND (n2 * syy - sy * sy) > 0
            |  THEN CAST(n2 * sxy - sx * sy AS DOUBLE) /
            |       sqrt(CAST(n2 * sxx - sx * sx AS DOUBLE) *
            |            CAST(n2 * syy - sy * sy AS DOUBLE))
            |  END, 6) AS DOUBLE)""".stripMargin).as("r"))
  }

  /** Two-hop reach per node — |{nodes within ≤ 2 hops}|, the local
    * influence-radius readout (how much of the graph a node can touch in
    * two steps; the denominator for "friend-of-friend audience"
    * estimates). Exact by construction: the 1-hop set is the adjacency,
    * the 2-hop candidates come from one middle-keyed self-join of the
    * symmetrized adjacency, self excluded, and the union is
    * distinct-counted — so a node reached both directly and through a
    * middle counts once. Middles above `maxMiddleDeg` are excluded from
    * the WEDGE step only (their direct edges still count): the
    * [[commonNeighborRecs]] hub discipline — Σ deg² through a celebrity
    * node is the classic two-hop explosion, and reach THROUGH a hub is
    * exactly the number this cap documents as suppressed. Output:
    * `(node, n_1hop, n_reach2)` with the cap echoed.
    *
    * Scale shape: degree aggregate + one equi-self-join bounded by
    * maxMiddleDeg·|edges| wedge rows + distinct + count — the FoF plan
    * without the window.
    */
  def twoHopReach(edges: DataFrame, maxMiddleDeg: Long = 64L): DataFrame = {
    require(maxMiddleDeg >= 1, s"maxMiddleDeg must be >= 1, got $maxMiddleDeg")
    val und = undirectedEdges(edges)
      .localCheckpoint() // adjacency + degree + wedge spine
    val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).cast("long").as("d"))
    val okMid = deg.filter(col("d") <= maxMiddleDeg).select(col("node").as("m"))
    val two = adj
      .select(col("v").as("m"), col("u").as("a"))
      .join(okMid, Seq("m"), "left_semi")
      .join(adj.select(col("u").as("m"), col("v").as("c")), Seq("m"))
      .filter(col("a") =!= col("c"))
      .select("a", "c")
    val reach = adj.select(col("u").as("a"), col("v").as("c"))
      .unionAll(two)
      .distinct()
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).cast("long").as("n_reach2"))
    deg
      .join(reach, Seq("node"), "left")
      .select(
        col("node"),
        col("d").as("n_1hop"),
        coalesce(col("n_reach2"), col("d")).as("n_reach2"),
        lit(maxMiddleDeg).as("max_middle_deg"))
  }

  /** Friend-of-friend recommendations: for each node, the top-`k`
    * NON-adjacent nodes ranked by common-neighbor count (ties by smaller
    * candidate id) — the classic link-prediction / "users also bought"
    * primitive. A candidate pair exists iff some shared middle node links
    * both ends; existing edges are anti-joined away (recommending a
    * current neighbor is noise).
    *
    * Scale shape: pair generation is Σ_middles deg² — quadratic in HUB
    * degree — so middles above `maxMiddleDeg` are excluded up front, the
    * standard FoF discipline (everyone co-occurs with a hub; shared hub
    * adjacency carries no signal, exactly the [[graft.ops.Dedup.minHashLsh]]
    * hot-bucket cap's logic). With the cap, wedges are ≤ maxMiddleDeg ×
    * |edges|; the count is one map-side-combinable aggregate on the pair
    * key; the top-k window partitions by node over its candidate set
    * only. The cap is an explicit, documented knob — results list it so
    * an audit can see what a hub-heavy graph suppressed.
    */
  /** Link prediction by the resource-allocation index (Zhou, Lü & Zhang
    * 2009): for each NON-adjacent pair, `ra_ppm = Σ_{m ∈ Γ(u)∩Γ(v)}
    * 1_000_000 div deg(m)` — common neighbors weighted down by how
    * promiscuous they are, the log-free twin of Adamic–Adar (RA divides
    * by deg where AA divides by log deg; RA is integer-exact and
    * measured at least as accurate on dense graphs, so it's the
    * hashable choice). Each node's top-`k` predicted partners, ranked
    * ra_ppm desc, common-neighbor count desc, candidate id asc.
    * Middles above `maxMiddleDeg` are excluded from the wedge step (the
    * [[commonNeighborRecs]] hub discipline — a celebrity middle's Σ deg²
    * wedge explosion buys RA weight ≤ 10⁶/maxMiddleDeg per pair anyway);
    * the weight uses the middle's TRUE degree, never the capped table.
    *
    * Scale shape: identical to [[commonNeighborRecs]] — degree aggregate,
    * one middle-keyed self-join bounded by maxMiddleDeg·|edges| wedge
    * rows, map-side-combinable pair aggregate, adjacency anti-join, ONE
    * window over candidate-pair grain.
    */
  def resourceAllocationRecs(
      edges: DataFrame,
      k: Int = 5,
      maxMiddleDeg: Long = 64L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxMiddleDeg >= 2, s"maxMiddleDeg must be >= 2, got $maxMiddleDeg")
    import org.apache.spark.sql.expressions.Window
    val und = undirectedEdges(edges)
      .localCheckpoint() // consumers: degree, wedge both sides, anti-join
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val middles = sym
      .groupBy("u")
      .agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxMiddleDeg)
      .select(col("u").as("m"), expr("1000000 div d").as("w_ppm"))
    val spokes = sym.select(col("u").as("m"), col("v").as("x")).join(middles, Seq("m"))
    val cand = spokes
      .select(col("m"), col("w_ppm"), col("x").as("a"))
      .join(spokes.select(col("m"), col("x").as("b")), Seq("m"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(
        sum(col("w_ppm")).cast("long").as("ra_ppm"),
        count(lit(1)).cast("long").as("cn"))
      .join(und.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
      .localCheckpoint() // both union branches consume the wedge subtree
    val both = cand
      .select(col("a").as("node"), col("b").as("rec"), col("ra_ppm"), col("cn"))
      .unionAll(cand.select(col("b").as("node"), col("a").as("rec"), col("ra_ppm"), col("cn")))
    both
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("node")
            .orderBy(col("ra_ppm").desc, col("cn").desc, col("rec").asc)))
      .filter(col("rank") <= k)
      .select(col("node"), col("rank").cast("long").as("rank"), col("rec"), col("ra_ppm"), col("cn"))
  }

  def commonNeighborRecs(edges: DataFrame, k: Int = 5, maxMiddleDeg: Long = 64L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxMiddleDeg >= 2, s"maxMiddleDeg must be >= 2, got $maxMiddleDeg")
    import org.apache.spark.sql.expressions.Window
    val und = undirectedEdges(edges)
      .localCheckpoint() // consumers: degree, wedge both sides, anti-join
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val middles = sym
      .groupBy("u")
      .agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxMiddleDeg)
      .select(col("u").as("m"))
    val spokes = sym.select(col("u").as("m"), col("v").as("x")).join(middles, Seq("m"))
    val cand = spokes
      .select(col("m"), col("x").as("a"))
      .join(spokes.select(col("m"), col("x").as("b")), Seq("m"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).cast("long").as("cn"))
      // candidate pairs and edges share the (smaller, larger) orientation,
      // so one anti-join removes every existing adjacency
      .join(und.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
      // both union branches consume the wedge-join + count + anti-join
      // (the Σ deg² dominant cost): materialize the candidate-pair-sized
      // result once instead of executing that subtree twice
      .localCheckpoint()
    val both = cand
      .select(col("a").as("node"), col("b").as("rec"), col("cn"))
      .unionAll(cand.select(col("b").as("node"), col("a").as("rec"), col("cn")))
    both
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy("node").orderBy(col("cn").desc, col("rec").asc)))
      .filter(col("rank") <= k)
      .select(col("node"), col("rank").cast("long").as("rank"), col("rec"), col("cn"))
  }

  /** Multi-source BFS over the undirected simple graph: one row
    * `(node, src, dist)` per (reached node, source) pair — the distance
    * primitive the family lacked (reach counted hops ≤ 2 only).
    * `sources` is caller-chosen (landmarks, seed users, known-bad
    * accounts), restricted to nodes actually in the graph; distances are
    * exact hop counts, so every value is integer and oracle-mirrorable.
    * Fails fast if the frontier has not emptied within `maxRounds` (the
    * [[kCore]] contract) — rounds needed = the largest source
    * eccentricity, bounded by the component diameter.
    *
    * Scale shape — textbook frontier BFS on joins: per round ONE
    * frontier⋈adjacency equi-join (frontier shrinks as the wave passes),
    * a per-(node, src) min to dedup multi-parent arrivals map-side, and
    * one anti-join against the known set; every round's state is
    * localCheckpointed (the [[pageRankMilli]] iterative discipline).
    * Total state is |reachable pairs| ≤ |V|·|sources| — the caller
    * bounds |sources| (landmark selection), never the engine. A hub's
    * million-edge frontier expansion pre-reduces in the partial min.
    *
    * Small graphs (at most `spark.graft.graph.localEdgeCutoff` normalized
    * edges, the [[localEdgeSupport]] gate) skip the per-hop jobs: one
    * task runs every source's wave ([[localBfs]]) over an in-memory
    * adjacency, emitting one wave at a time — O(|E| + |V|) task state
    * plus one wave's rows. Hop distances are canonical, so the rows
    * equal the frontier loop's. The result is checkpointed and its
    * deepest hop read on the driver, so the `maxRounds` refusal is the
    * same call-time IllegalArgumentException on both branches.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxRounds: Int = 16): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64, s"maxRounds must be in [1, 64], got $maxRounds")
    val und = undirectedEdges(edges).localCheckpoint()
    val srcIds = sources.select(col(sources.columns.head).cast("long").as("node"))
    def requireWithin(hops: Long): Unit = require(
      hops <= maxRounds,
      s"bfsDistances did not converge within maxRounds=$maxRounds (frontier still " +
        "live) — raise maxRounds toward the component diameter")
    // both reads below run as ONE RDD job each over checkpointed blocks
    // (a DataFrame count/max pays an extra AQE job for its exchange)
    val nEdges = und.rdd.count()
    if (nEdges > 0L && nEdges <= graphLocalCutoff(und.sparkSession)) {
      val dist = localBfs(und, srcIds, maxRounds).localCheckpoint()
      requireWithin(dist.rdd.map(_.getLong(2)).fold(0L)(math.max))
      return dist
    }
    val adj = und
      .select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nbr")))
      .localCheckpoint()
    val nodes = adj.select("node").distinct()
    val seed = srcIds
      .distinct()
      .join(nodes, Seq("node"), "left_semi") // a source outside the graph reaches nothing
      .select(col("node"), col("node").as("src"), lit(0L).as("dist"))
      .localCheckpoint()
    var dist = seed
    var frontier = seed
    var rounds = 0
    var done = frontier.isEmpty
    while (!done) {
      val next = frontier
        .join(adj, Seq("node"))
        .select(col("nbr").as("node"), col("src"), (col("dist") + 1).as("dist"))
        .groupBy("node", "src")
        .agg(min("dist").as("dist"))
        .join(dist.select("node", "src"), Seq("node", "src"), "left_anti")
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        // count only EXPANDING rounds, so maxRounds = the largest source
        // eccentricity suffices exactly (the trailing empty-frontier
        // check is free of the budget)
        rounds += 1
        requireWithin(rounds)
        dist = dist.unionAll(next).localCheckpoint()
        frontier = next
      }
    }
    dist
  }

  /** Single-task multi-source BFS for [[bfsDistances]]' small-graph
    * branch: the (u < v) edges and the source ids arrive in one task,
    * the adjacency is built once as int-indexed CSR arrays, and each
    * distinct in-graph source runs a queue BFS whose wave is emitted
    * before the next source starts. Waves stop expanding at depth
    * `maxRounds` + 1, so a graph too deep for the budget still costs a
    * bounded walk and leaves a `maxRounds + 1` row for the caller's
    * refusal.
    */
  private def localBfs(und: DataFrame, sources: DataFrame, maxRounds: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    und.select(col("u"), col("v"), lit(false).as("is_src"))
      .unionAll(sources.filter(col("node").isNotNull)
        .select(col("node").as("u"), col("node").as("v"), lit(true).as("is_src")))
      .as[(Long, Long, Boolean)]
      .coalesce(1)
      .mapPartitions { it =>
        import scala.collection.mutable.ArrayBuilder
        val idx = new java.util.HashMap[java.lang.Long, Integer]()
        val ids = new ArrayBuilder.ofLong
        def id(x: Long): Int = {
          val i = idx.get(x)
          if (i != null) i.intValue
          else { val j = idx.size; idx.put(x, j); ids += x; j }
        }
        val (eu, ev, srcs) = (new ArrayBuilder.ofInt, new ArrayBuilder.ofInt, new ArrayBuilder.ofLong)
        it.foreach { case (u, v, isSrc) =>
          if (isSrc) srcs += u else { eu += id(u); ev += id(v) }
        }
        val (a, b, node) = (eu.result(), ev.result(), ids.result())
        val nV = node.length
        val off = new Array[Int](nV + 1)
        a.foreach(i => off(i + 1) += 1)
        b.foreach(i => off(i + 1) += 1)
        (1 to nV).foreach(i => off(i) += off(i - 1))
        val nbr = new Array[Int](off(nV))
        val fill = off.clone()
        a.indices.foreach { e =>
          nbr(fill(a(e))) = b(e); fill(a(e)) += 1
          nbr(fill(b(e))) = a(e); fill(b(e)) += 1
        }
        val dist = Array.fill(nV)(-1)
        val queue = new Array[Int](nV)
        srcs.result().distinct.iterator.filter(s => idx.containsKey(s)).flatMap { s =>
          val root = idx.get(s).intValue
          dist(root) = 0
          queue(0) = root
          var (head, tail) = (0, 1)
          while (head < tail) {
            val x = queue(head)
            head += 1
            if (dist(x) <= maxRounds) {
              var j = off(x)
              while (j < off(x + 1)) {
                val y = nbr(j)
                if (dist(y) < 0) { dist(y) = dist(x) + 1; queue(tail) = y; tail += 1 }
                j += 1
              }
            }
          }
          val wave = Array.tabulate(tail)(i => (node(queue(i)), s, dist(queue(i)).toLong))
          (0 until tail).foreach(i => dist(queue(i)) = -1)
          wave.iterator
        }
      }
      .toDF("node", "src", "dist")
  }

  /** Landmark closeness from [[bfsDistances]]: per node, how many of the
    * caller's landmark sources it reaches (`n_reached`, including itself
    * when it IS one), the hop sum (`d_sum`), and the integer closeness
    * proxy `closeness_ppm = 1e6·n_reached div d_sum` (null when d_sum is
    * 0 — a landmark reaching no OTHER landmark has no defined rate, and
    * null beats a fake 0, the [[clusteringCoeff]] rule). On an
    * undirected graph d(v, landmark) = d(landmark, v), so the landmark
    * wave computes every node's value in |landmarks| BFS waves — the
    * standard bounded stand-in for exact closeness centrality, whose
    * all-pairs truth is quadratic and does not survive 100x.
    */
  def landmarkCloseness(
      edges: DataFrame, sources: DataFrame, maxRounds: Int = 16): DataFrame =
    bfsDistances(edges, sources, maxRounds)
      .groupBy("node")
      .agg(
        count(lit(1)).cast("long").as("n_reached"),
        sum("dist").as("d_sum"))
      .select(
        col("node"),
        col("n_reached"),
        col("d_sum"),
        when(col("d_sum") > 0L, expr("(1000000 * n_reached) div d_sum"))
          .as("closeness_ppm"))

  // ---- persisted incremental edge store (append / tombstone / compact) ----

  /** [[edgeSupport]] as a public batch face: per-edge triangle support
    * over an arbitrary src/dst frame — the recompute the incremental
    * store's invariant is checked against.
    */
  def triangleSupport(edges: DataFrame): DataFrame =
    edgeSupport(undirectedEdges(edges).localCheckpoint())

  /** DEFAULT bucket count for NEW stores. 64 buckets cap a churn batch's
    * support write amplification at 1/64 of the table when the touched
    * edges cluster (the usual daily-delta case); a production deployment
    * sizes it with the store by passing `buckets` to [[writeEdgeStore]] /
    * [[writeCcStore]] (the IVF cell layout's precedent). The chosen count
    * is PERSISTED in the store's `bucketing` pin and every mutator reads
    * it from there — resizing is a rebuild with a different argument,
    * never a code edit, and a binary can never swap against the wrong
    * layout (the partial-rewrite mutators assume every generation used
    * the same bucket function, so the pin also carries the hash-function
    * version and [[storeBuckets]] refuses a version this binary does not
    * speak).
    */
  private[graft] val supportBuckets = 64

  /** Version pin of the bucket FUNCTION (`pmod(hash(cols), n)`): a store
    * laid out by a different hash must be refused, not silently read —
    * the bucket count alone cannot witness that.
    */
  private val bucketingVersion = "v1"

  /** The support table's bucket of an edge: a deterministic hash of BOTH
    * endpoints, so a hub node's edges still spread across buckets (a
    * u-only layout would send a celebrity node's whole adjacency to one
    * bucket and make every batch touching it rewrite that hot bucket).
    */
  private[graft] def supportBucket(
      u: org.apache.spark.sql.Column,
      v: org.apache.spark.sql.Column,
      n: Int = supportBuckets) =
    pmod(hash(u, v), lit(n))

  private def writeTextFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      text: String): Unit = Similarity.writeSmallFile(fs, p, text)

  private def readTextFile(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): String =
    Similarity.readSmallFile(fs, p)

  /** Persist the store's bucket layout pin: hash-function version + count
    * (a plain FS file — the [[graft.ops.Similarity.markInflight]] lesson:
    * a 1-row parquet would cost a whole Spark job per lifecycle call).
    */
  private def writeBucketing(
      spark: org.apache.spark.sql.SparkSession, path: String, n: Int): Unit =
    writeTextFile(
      hfs(spark, path),
      new org.apache.hadoop.fs.Path(s"$path/bucketing"),
      s"$bucketingVersion\n$n")

  /** The bucket count a store was laid out with — what every mutator and
    * census uses (never the compile-time default). A store without the
    * pin predates it and is by construction the original fixed 64-bucket
    * layout; a pin with a hash-function version this binary does not
    * speak is refused with the rebuild named (reading it would silently
    * swap the wrong buckets).
    */
  private[graft] def storeBuckets(
      spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/bucketing")
    if (!fs.exists(p)) supportBuckets
    else {
      val lines = readTextFile(fs, p).trim.split("\n").map(_.trim)
      require(
        lines.length >= 2 && lines(0) == bucketingVersion,
        s"store at $path is bucketed with hash-function version '${lines.headOption.getOrElse("")}' " +
          s"but this binary speaks '$bucketingVersion' — rebuild the store before mutating it")
      val n = lines(1).toInt
      require(n >= 1, s"store at $path pins a non-positive bucket count $n — rebuild it")
      n
    }
  }

  /** Persist an EDGE STORE with incrementally-maintained per-edge
    * triangle support — the graph family's entry into the repo's
    * store-lifecycle discipline (every other index family already has
    * one): a daily-growing interaction graph at 100 TB cannot recompute
    * support from scratch per churn batch. Layout: `edges` (u < v simple
    * edges, append-grown), `tombstones` (removed pairs, subtracted on
    * read — the metadata-only delete, space reclaimed by
    * [[compactEdgeStore]]), `support` (one row per LIVE edge,
    * HASH-BUCKETED by [[supportBucket]] so churn batches rewrite only
    * the buckets holding touched edges — O(|delta|·avg-degree) write
    * cost, never O(|edges|)). Mutations commit through ONE staged tree
    * whose rename is the atomic commit point ([[stageAndApply]]), with
    * the [[graft.ops.Similarity.markInflight]] crash marker spanning the
    * apply window; reads refuse a mid-crash store, mutators SELF-REPAIR
    * it ([[repairEdgeStore]] — re-running the interrupted op is the
    * documented and now-followable recovery). A full write replaces
    * everything and clears any stale marker or staged tree (the
    * [[graft.ops.Similarity.writePqIndex]] contract).
    */
  def writeEdgeStore(
      edges: DataFrame, path: String, buckets: Int = supportBuckets): Unit = {
    require(buckets >= 1 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    val spark = edges.sparkSession
    val und = undirectedEdges(edges).localCheckpoint()
    Similarity.markInflight(spark, path, "writeEdgeStore")
    Similarity.deleteDir(spark, s"$path/tombstones")
    // a full write really replaces EVERYTHING: the params pin too, so a
    // formerly stream-maintained path becomes a plain batch store whose
    // mutators work again (the writePqIndex contract) — and any staged
    // tree from a crashed mutation dies unapplied
    Similarity.deleteDir(spark, s"$path/params")
    Similarity.deleteDir(spark, s"$path/support_stamp")
    Similarity.deleteDir(spark, s"$path/staged")
    Similarity.deleteDir(spark, s"$path/staged.compacting")
    Similarity.deleteDir(spark, s"$path/edges")
    writeBucketing(spark, path, buckets)
    und.write.mode("overwrite").parquet(s"$path/edges")
    Similarity.rewriteDir(
      spark,
      edgeSupport(und)
        .withColumn("bucket", supportBucket(col("u"), col("v"), buckets))
        .repartition(col("bucket")), // one file per bucket, not per task x bucket
      s"$path/support",
      Seq("bucket"))
    Similarity.clearInflight(spark, path)
  }

  /** Grow the edge store with a churn batch, maintaining support
    * INCREMENTALLY: only triangles through actually-new edges are
    * enumerated (the [[edgeSupport]] wedge join restricted to the delta —
    * each new triangle found once regardless of how many new edges it
    * contains, then credited to all three of its edges), so the cost is
    * `|delta| · avg-degree` wedge candidates plus one id-keyed join-back,
    * never a full recompute. Batch edges already live are ignored; a
    * batch edge sitting in the tombstones is REFUSED (re-inserting a
    * deleted edge requires [[compactEdgeStore]] first — the
    * [[graft.ops.Similarity.deleteFromIndex]] contract, because the
    * tombstone would silently eat the re-insert on read).
    *
    * Scale shape: delta normalize + one left-anti against live, the
    * delta-restricted wedge join (AQE broadcasts the delta side when
    * small), a distinct over touched triangles, and a support rewrite of
    * ONLY the buckets holding delta or credited edges (partition-pruned
    * read, per-bucket swap) — per-batch write cost is
    * O(|delta|·avg-degree), never the edge-count-sized table.
    */
  def appendEdgeStore(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    repairEdgeStore(spark, path)
    requireBatchBuilt(spark, path, "appendEdgeStore")
    val nb = storeBuckets(spark, path)
    val liveOld = liveEdges(spark, path).localCheckpoint()
    // the tombstone-conflict probe rides IN the delta materialization
    // (one left join instead of a second tombstone-scan job afterwards —
    // a tombstoned edge is by definition not live, so it always lands in
    // delta and the flag loses no refusal)
    val deltaFlagged = {
      val d0 = undirectedEdges(batch).join(liveOld, Seq("u", "v"), "left_anti")
      if (Similarity.storeExists(spark, s"$path/tombstones"))
        d0.join(
          spark.read.parquet(s"$path/tombstones")
            .select(col("u"), col("v"), lit(1).as("__tomb")),
          Seq("u", "v"),
          "left")
      else d0.withColumn("__tomb", lit(null).cast("int"))
    }.localCheckpoint()
    // ONE decision read answers both "anything new?" and "any re-insert
    // of a tombstoned pair?" (two separate probes in round 16) — and its
    // count sizes the delta-bounded tail's shuffle width
    val probe = deltaFlagged
      .agg(count(lit(1)).as("n"), count(col("__tomb")).as("n_tomb"))
      .head()
    if (probe.getLong(0) == 0L) return () // nothing new: store untouched byte-for-byte
    require(
      probe.getLong(1) == 0L,
      s"appendEdgeStore: ${probe.getLong(1)} batch edges are tombstoned in $path — " +
        "compact the store before re-inserting a deleted edge")
    val delta = deltaFlagged.select("u", "v")
    deltaScoped(spark, probe.getLong(0)) {
    // liveNew is a union of two CHECKPOINTED frames: each consumer rescans
    // the checkpoint blocks, which is what reading a third materialized
    // copy would cost anyway — so no localCheckpoint here (it would add a
    // full |edges|-sized write per mutation for nothing)
    val liveNew = liveOld.unionAll(delta)
    val credits = touchedTriangleCredits(delta, liveNew).localCheckpoint()
    val touched = touchedBucketIds(delta, credits, nb)
    val supportNew = liveNew
      .filter(supportBucket(col("u"), col("v"), nb).isin(touched: _*))
      .join(readSupportBuckets(spark, path, touched), Seq("u", "v"), "left")
      .join(credits, Seq("u", "v"), "left")
      .select(
        col("u"),
        col("v"),
        (coalesce(col("support"), lit(0L)) + coalesce(col("c"), lit(0L))).as("support"))
    stageAndApply(spark, path, "appendEdgeStore", "edges", replaceTarget = false,
      Some(delta), Seq(("support", withSupportBucket(supportNew, nb), touched)))
    }
  }

  /** One micro-batch of STREAMING edge-store maintenance (the foreachBatch
    * body a growing interaction graph runs): batch 0 — or a store with no
    * params pin, including a batch-built one being re-pointed — CLAIMS the
    * root (stale state dies first, the [[graft.ops.StoreLifecycle]] rule;
    * an empty claim defers training of nothing — edges need no fit — but
    * still wipes); every later batch lands ONLY its actually-new edges
    * under `edges/batch_id=N` and swaps the touched support buckets plus
    * the plain-file `support_stamp = N` through ONE staged apply.
    * EXACTLY-ONCE without a transaction log: the staged rename is the
    * atomic commit, so after any crash the store is entirely pre-N,
    * entirely post-N, or committed-but-unapplied — the retry rolls that
    * last case forward before reading the stamp, then recomputes its
    * delta against the edges dirs
    * EXCLUDING its own generation (so a half-landed gen N never hides its
    * own delta), re-overwrites gen N idempotently, and applies credits
    * only if the stamp says they never landed (a FILE open, not the
    * full-support `max(as_of_batch)` scan the round-16 layout paid per
    * ingest). The crash marker spans the
    * edges↔support window for PROBE safety ([[readEdgeSupport]] refuses a
    * mid-crash store); the retried batch itself RESOLVES the marker —
    * re-running the interrupted op is the documented repair. Stream
    * stores are additions-only: [[appendEdgeStore]]/[[removeFromEdgeStore]]
    * refuse them (route additions through the stream; removals want a
    * batch-built store).
    */
  def ingestEdgeBatch(batch: DataFrame, path: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val und = undirectedEdges(batch).localCheckpoint()
    if (batchId == 0L || !Similarity.storeExists(spark, s"$path/params")) {
      // wipe BEFORE the empty check (the StoreLifecycle rule): an empty
      // batch 0 must still retire a previous run's store
      Seq("edges", "support", "support_stamp", "tombstones", "staged",
        "staged.compacting", "bucketing")
        .foreach(d => Similarity.deleteDir(spark, s"$path/$d"))
      Similarity.clearInflight(spark, path) // a fresh stream resolves a crashed run
      Similarity.deleteDir(spark, s"$path/params")
      if (und.isEmpty) return
      Seq("edges-stream").toDF("kind")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
      Similarity.markInflight(spark, path, "ingestEdgeBatch")
      writeBucketing(spark, path, supportBuckets)
      und.write.mode("overwrite").parquet(s"$path/edges/batch_id=$batchId")
      Similarity.rewriteDir(
        spark,
        edgeSupport(und)
          .withColumn("bucket", supportBucket(col("u"), col("v")))
          .repartition(col("bucket")), // one file per bucket, not per task x bucket
        s"$path/support",
        Seq("bucket"))
      // the exactly-once stamp is a PLAIN FS FILE swapped inside the same
      // staged apply as the support buckets (below, for every later
      // batch): reading it costs an open, never the full-support
      // max(as_of_batch) scan the round-16 layout paid per ingest
      writeTextFile(
        hfs(spark, path),
        new org.apache.hadoop.fs.Path(s"$path/support_stamp"),
        batchId.toString)
      Similarity.clearInflight(spark, path)
      return
    }
    if (und.isEmpty) return // nothing to merge: store untouched
    // a crashed prior attempt left either a committed staged tree (roll
    // it forward — the store becomes wholly post-crash-op), an
    // uncommitted tmp (discard — the op never happened), or a bare
    // marker over a consistent store (clear it); the stamp read below
    // then always sees a post-apply value, so the retry's repair
    // contract holds through every window
    repairEdgeStore(spark, path)
    val nb = storeBuckets(spark, path)
    // the stamp decides whether this batch's credits already landed —
    // its swap rides the staged apply, so it is never half-true. A store
    // from the previous layout (stamp = an as_of_batch column inside the
    // support table) refuses BY NAME rather than crashing on the missing
    // file: migrating it implicitly mid-mutation would mix pure and
    // stamped bucket schemas across a partial swap
    val stampP = new org.apache.hadoop.fs.Path(s"$path/support_stamp")
    if (!hfs(spark, path).exists(stampP))
      throw new IllegalStateException(
        s"stream edge store at $path predates the plain-file exactly-once stamp " +
          "(its stamp was an as_of_batch column) — restart the stream from batch 0 " +
          "with a fresh checkpoint (the claim rebuilds the store under this layout)")
    val asOf = readTextFile(hfs(spark, path), stampP).trim.toLong
    if (asOf >= batchId) return // support already post-N: nothing recounts
    val liveOld = spark.read.parquet(s"$path/edges")
      .filter(col("batch_id") =!= batchId) // a half-landed retry must not hide its own delta
      .select("u", "v")
      .localCheckpoint()
    val delta = und.join(liveOld, Seq("u", "v"), "left_anti").localCheckpoint()
    val nDelta = delta.count() // the decision read also sizes the tail's width
    if (nDelta == 0L) return // pure-duplicate batch: no new generation, no recount
    deltaScoped(spark, nDelta) {
    // union of checkpointed frames — no third materialization (see
    // appendEdgeStore)
    val liveNew = liveOld.unionAll(delta)
    val credits = touchedTriangleCredits(delta, liveNew).localCheckpoint()
    val touched = touchedBucketIds(delta, credits, nb)
    val supportNew = liveNew
      .filter(supportBucket(col("u"), col("v"), nb).isin(touched: _*))
      .join(readSupportBuckets(spark, path, touched), Seq("u", "v"), "left")
      .join(credits, Seq("u", "v"), "left")
      .select(
        col("u"),
        col("v"),
        (coalesce(col("support"), lit(0L)) + coalesce(col("c"), lit(0L))).as("support"))
    stageAndApply(spark, path, "ingestEdgeBatch", s"edges/batch_id=$batchId",
      replaceTarget = true, Some(delta),
      Seq(("support", withSupportBucket(supportNew, nb), touched)),
      stamp = Some(batchId))
    }
  }

  /** Remove edges from the store: the removed pairs land in `tombstones`
    * (metadata-only — no edge-table rewrite on the removal path) and the
    * support table decrements incrementally — triangles of the
    * PRE-REMOVAL live graph through actually-removed edges, each
    * destroyed triangle found once and debited from all three of its
    * edges; removed edges leave the support table entirely.
    */
  def removeFromEdgeStore(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    repairEdgeStore(spark, path)
    requireBatchBuilt(spark, path, "removeFromEdgeStore")
    val nb = storeBuckets(spark, path)
    val liveOld = liveEdges(spark, path).localCheckpoint()
    val rem = undirectedEdges(batch)
      .join(liveOld, Seq("u", "v"), "left_semi")
      .localCheckpoint()
    val nRem = rem.count() // the decision read also sizes the tail's width
    if (nRem == 0L) return // nothing live to remove: store untouched
    deltaScoped(spark, nRem) {
    val liveNew = liveOld.join(rem, Seq("u", "v"), "left_anti")
    val credits = touchedTriangleCredits(rem, liveOld).localCheckpoint()
    // removed edges leave their buckets (rewritten without them), debited
    // edges get their buckets rewritten with the new support
    val touched = touchedBucketIds(rem, credits, nb)
    val supportNew = liveNew
      .filter(supportBucket(col("u"), col("v"), nb).isin(touched: _*))
      .join(readSupportBuckets(spark, path, touched), Seq("u", "v"), "left")
      .join(credits, Seq("u", "v"), "left")
      .select(
        col("u"),
        col("v"),
        (coalesce(col("support"), lit(0L)) - coalesce(col("c"), lit(0L))).as("support"))
    stageAndApply(spark, path, "removeFromEdgeStore", "tombstones", replaceTarget = false,
      Some(rem.coalesce(1)), Seq(("support", withSupportBucket(supportNew, nb), touched)))
    }
  }

  /** Fold the store. Batch-built: rewrite `edges` to the live set
    * (tombstoned pairs physically dropped) and clear the tombstones.
    * Stream-built: fold every `edges/batch_id=N` generation into ONE
    * `batch_id=-1` generation (real micro-batch ids are >= 0 — the
    * [[graft.ops.Similarity]] compaction convention), so a long-running
    * stream's per-batch file census collapses while the next ingest
    * batch keeps a consistent layout. Support is unchanged by contract —
    * compaction reorganizes storage, it never recounts.
    */
  def compactEdgeStore(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    repairEdgeStore(spark, path)
    val raw = spark.read.parquet(s"$path/edges")
    if (raw.columns.contains("batch_id")) {
      // stream store: no tombstones by construction, so the fold is one
      // self-repairing rewriteDir swap under the marker
      Similarity.markInflight(spark, path, "compactEdgeStore")
      Similarity.rewriteDir(
        spark,
        raw.select("u", "v").withColumn("batch_id", lit(-1L)),
        s"$path/edges",
        Seq("batch_id"))
      Similarity.clearInflight(spark, path)
    } else {
      // batch store: the tombstones clear rides the SAME staged apply as
      // the edges swap — the round-16 two-step (rewrite, then clear)
      // left a crash window in which already-subtracted tombstones
      // survived repair and refused later re-inserts of physically-gone
      // edges
      val live = liveEdges(spark, path).localCheckpoint()
      stageAndApply(spark, path, "compactEdgeStore", "edges", replaceTarget = true,
        Some(live), Nil, clearTombs = true)
    }
  }

  /** RESIZE the support table's bucket layout in place — the lifecycle
    * face of the [[storeBuckets]] pin: a store whose churn outgrew its
    * bucket count (write amplification is capped at 1/buckets of the
    * table, so a table that grew 100x wants more buckets) relayouts
    * WITHOUT the full triangle recount a [[writeEdgeStore]] rebuild
    * pays — support VALUES are layout-independent, so this is one
    * content-preserving shuffle of the existing table plus the pin
    * update, never a wedge join. Works on batch and stream stores alike
    * (the support schema is identical; quiesce a live ingest first —
    * administrative ops do not race mutations).
    *
    * Crash posture: the op is NOT generically repairable (rolling the
    * relayout forward without its pin would leave layout and pin
    * disagreeing — [[repairEdgeStore]] refuses with the re-run named);
    * instead the op itself recovers from every window, because the
    * relayout is content-preserving over (u, v, support) REGARDLESS of
    * the current layout: re-reading a half-old, all-old, or all-new
    * tree and re-bucketing it to the target count yields the same
    * table, and the pin lands last.
    *
    * Scale shape: one full-table read + one shuffle on the new bucket
    * column + one partitioned write per run — O(|edges|) rows moved,
    * zero recomputation; the rare administrative cost that buys every
    * subsequent mutation its 1/buckets write-set cap.
    */
  def rebucketEdgeStore(
      spark: org.apache.spark.sql.SparkSession, path: String, buckets: Int): Unit = {
    require(buckets >= 1 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    val fs = hfs(spark, path)
    Similarity.inflightOp(spark, path) match {
      case None => ()
      case Some(op) if op.contains("rebucketEdgeStore") => () // our own re-run IS the repair
      case Some(_) => repairEdgeStore(spark, path)
    }
    Similarity.markInflight(spark, path, "rebucketEdgeStore")
    // a prior interrupted relayout: a COMPLETE tmp with the live dir gone
    // rolls forward (it holds the only copy of the content); anything
    // else is pre-swap garbage
    rollForwardOrDrop(fs, s"$path/support")
    val supDir = new org.apache.hadoop.fs.Path(s"$path/support")
    require(
      fs.exists(supDir),
      s"rebucketEdgeStore: $path has no support tree — rebuild with writeEdgeStore")
    val support = spark.read.parquet(s"$path/support")
    requireBucketedStore(support, path, "support", "writeEdgeStore")
    Similarity.rewriteDir(
      spark,
      support
        .select("u", "v", "support")
        .withColumn("bucket", supportBucket(col("u"), col("v"), buckets))
        .repartition(col("bucket")), // one file per bucket (the write discipline)
      s"$path/support",
      Seq("bucket"))
    writeBucketing(spark, path, buckets)
    Similarity.clearInflight(spark, path)
  }

  /** The relayout ops' window cleaner — [[graft.ops.Similarity.rollForwardOrDrop]]. */
  private def rollForwardOrDrop(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit =
    Similarity.rollForwardOrDrop(fs, dir)

  /** The store's read face: per-live-edge triangle support, refusing a
    * mid-crash store. Matches [[triangleSupport]] over the live edge set
    * exactly (the invariant the spec and the driver row pin); the stream
    * store's exactly-once stamp lives in the plain `support_stamp` file,
    * so the table itself is pure (u, v, support) in every layout.
    */
  def readEdgeSupport(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    Similarity.requireNotInflight(spark, path)
    spark.read.parquet(s"$path/support").select("u", "v", "support")
  }

  /** Per-NODE triangle counts served straight from the store's maintained
    * support — no wedge join at read time: a triangle contributes +1
    * support to each of its three edges, and each of those edges is
    * incident to exactly two of its corners, so for every node
    * `Σ_{e ∋ v} support(e) = 2·tri(v)` and one explode + one aggregate
    * over the (edge-count-sized) support table recovers
    * [[triangleCounts]] exactly. This is the store's dividend: the
    * expensive enumeration already happened incrementally at ingest;
    * serving node counts costs a scan of |edges| rows.
    */
  def readTriangleCounts(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readEdgeSupport(spark, path)
      .select(explode(array(col("u"), col("v"))).as("node"), col("support"))
      .groupBy("node")
      // integer `div`, not `/` (which promotes to double and would lose
      // exactness past 2^53): the per-node sum is provably even — every
      // triangle credits exactly two of the node's incident edges
      .agg(expr("sum(support) div 2").as("n_tri"))
      // triangleCounts reports only nodes IN a triangle; isolated-corner
      // rows (support sum 0) would differ from the batch face
      .filter(col("n_tri") > 0L)

  /** TIME-TRAVEL read of a STREAM edge store: the live edge set as of
    * generation `batchId` — the `edges/batch_id=N` layout the ingest
    * already writes IS a retention log, so "what did the graph look like
    * when batch N landed" is one partition-pruned filter, no snapshots
    * kept. Batch-built stores are refused (flat edges carry no
    * generation lineage). Resolution is bounded by compaction:
    * [[compactEdgeStore]] folds history into the `batch_id=-1`
    * generation, which every as-of includes as an indivisible prefix —
    * compact up to your retention horizon, never past it.
    */
  def liveEdgesAsOf(
      spark: org.apache.spark.sql.SparkSession, path: String, batchId: Long): DataFrame = {
    Similarity.requireNotInflight(spark, path)
    require(
      Similarity.storeExists(spark, s"$path/params"),
      s"liveEdgesAsOf: the edge store at $path is batch-built (no params pin) — " +
        "only stream stores carry per-batch generation lineage")
    spark.read.parquet(s"$path/edges")
      .filter(col("batch_id") <= batchId)
      .select("u", "v")
  }

  /** Per-edge triangle support AS OF generation `batchId` — an honest
    * RECOMPUTE over [[liveEdgesAsOf]] (the maintained support table holds
    * only the latest state; history is derived, not stored), for
    * debugging a drifted metric or auditing when a triangle appeared.
    * Generations are disjoint actually-new edge sets by the ingest
    * contract, so their union is already (u < v)-normalized distinct.
    */
  def triangleSupportAsOf(
      spark: org.apache.spark.sql.SparkSession, path: String, batchId: Long): DataFrame =
    edgeSupport(liveEdgesAsOf(spark, path, batchId).localCheckpoint())

  // ---- persisted incremental connected-components label store ----

  /** The label store's bucket of a row: a hash of its COMPONENT label,
    * not its node id — mutations move whole components (a merge remaps
    * every row of the losing components; a removal re-labels every row
    * of the touched ones), so comp-keyed buckets make the touched-row
    * set land in a bounded set of directories while node-keyed buckets
    * would smear every merge across the whole table.
    */
  private[graft] def labelBucket(comp: org.apache.spark.sql.Column, n: Int = supportBuckets) =
    pmod(hash(comp), lit(n))

  /** The SECONDARY index's bucket of a row: a hash of the NODE id. The
    * `nodeidx` tree holds the same (node, comp) rows as `cclabels` laid
    * out by node, so a node-grain membership probe (which component holds
    * this node — [[removeFromCcStore]]'s first question) prunes to the
    * probed nodes' buckets instead of scanning every label row. The cost
    * side of the trade is honest: a mutation rewrites the nodeidx rows of
    * every node whose label changed — the SAME row set the cclabels
    * rewrite already pays, but spread over up to every node bucket when a
    * big component remaps (comp-keyed buckets cluster those rows; node
    * keys scatter them) — still bounded by the bucket count, priced in
    * SCALE.md.
    */
  private[graft] def nodeBucket(node: org.apache.spark.sql.Column, n: Int = supportBuckets) =
    pmod(hash(node), lit(n))

  /** Persist a CONNECTED-COMPONENTS label store: one row per node,
    * `comp` = the minimum node id of its component (the
    * [[graft.ops.Dedup.clusterPairs]] contract — that O(log n)
    * star-contraction IS the solver), HASH-BUCKETED by [[labelBucket]]
    * so the incremental mutators rewrite only the buckets holding
    * churned components. The other half of the edge-store's incremental
    * analytics: [[appendCcStore]] folds edge ADDITIONS in without ever
    * re-solving the corpus, [[removeFromCcStore]] re-solves only the cut
    * components.
    */
  def writeCcStore(edges: DataFrame, path: String, buckets: Int = supportBuckets): Unit =
    writeCcStoreInternal(edges, path, buckets, None)

  private def writeCcStoreInternal(
      edges: DataFrame, path: String, buckets: Int, logBatch: Option[Long]): Unit = {
    require(buckets >= 1 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    val spark = edges.sparkSession
    val und = undirectedEdges(edges).localCheckpoint()
    // pre-normalized entry: und is already (u < v)-deduped and
    // checkpointed, so the generic clusterPairs path's nodes derivation
    // and re-normalize (4-5 driver jobs) are pure re-work here
    val labels0 = Dedup.ccLabelsOfEdges(und)
    // only the stream claim has a second consumer (the gen-0 log) worth a
    // materialization; the plain batch write stays single-pass
    val labels = if (logBatch.isDefined) labels0.localCheckpoint() else labels0
    Similarity.markInflight(spark, path, "writeCcStore")
    // a full write really replaces EVERYTHING, the stream pin included
    // (the writeEdgeStore contract): a later ingest batch re-claims the
    // root instead of appending to a replaced base — plus the generation
    // log and the node index, which no longer describe the replaced store
    Similarity.deleteDir(spark, s"$path/params")
    Similarity.deleteDir(spark, s"$path/cclog")
    Similarity.deleteDir(spark, s"$path/cclog.compacting")
    Similarity.deleteDir(spark, s"$path/cclog_folded")
    Similarity.deleteDir(spark, s"$path/nodeidx")
    Similarity.deleteDir(spark, s"$path/nodeidx.compacting")
    Similarity.deleteDir(spark, s"$path/staged")
    Similarity.deleteDir(spark, s"$path/staged.compacting")
    writeBucketing(spark, path, buckets)
    Similarity.rewriteDir(
      spark,
      labels
        .withColumn("bucket", labelBucket(col("comp"), buckets))
        .repartition(col("bucket")), // one file per bucket, not per task x bucket
      s"$path/cclabels",
      Seq("bucket"))
    // gen-0 of the stream's remap log, written from the checkpointed
    // labels (no read-back): every initial label is a new-node row
    logBatch.foreach { n =>
      labels
        .select(lit("node").as("kind"), col("node").as("a"), col("comp").as("b"))
        .write.mode("overwrite").parquet(s"$path/cclog/batch_id=$n")
    }
    Similarity.clearInflight(spark, path)
  }

  /** OPT-IN build of the node-keyed secondary index ([[nodeBucket]]) a
    * removal-heavy deployment wants: one rewrite of the current labels
    * laid out by node. [[removeFromCcStore]] uses it when present (its
    * membership probe then prunes to the probed nodes' buckets instead
    * of scanning every label row) and both mutators maintain it through
    * the same staged protocol; stores that never see removals skip the
    * second tree entirely — the index's write cost lands only where its
    * read benefit is. Idempotent (a rebuild swaps atomically); a full
    * [[writeCcStore]] retires it with the store.
    */
  def buildCcNodeIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    repairCcStore(spark, path)
    val nb = storeBuckets(spark, path)
    val labels = spark.read.parquet(s"$path/cclabels")
    requireBucketedStore(labels, path, "cclabels", "writeCcStore")
    Similarity.markInflight(spark, path, "buildCcNodeIndex")
    Similarity.rewriteDir(
      spark,
      labels
        .select("node", "comp")
        .withColumn("bucket", nodeBucket(col("node"), nb))
        .repartition(col("bucket")),
      s"$path/nodeidx",
      Seq("bucket"))
    Similarity.clearInflight(spark, path)
  }

  /** RESIZE the label store's bucket layout in place — the CC face of
    * [[rebucketEdgeStore]], with the same crash posture (content-
    * preserving, re-runnable from every window, generically unrepairable
    * so [[repairCcStore]] refuses with the re-run named). Relays BOTH
    * trees when the node index exists (labels by component hash, the
    * index by node hash — one shuffle each, zero re-solving); the remap
    * log is layout-independent and untouched, so as-of reads survive a
    * resize. Scale shape: O(|nodes|) rows moved per tree, never a star
    * contraction.
    */
  def rebucketCcStore(
      spark: org.apache.spark.sql.SparkSession, path: String, buckets: Int): Unit = {
    require(buckets >= 1 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    val fs = hfs(spark, path)
    Similarity.inflightOp(spark, path) match {
      case None => ()
      case Some(op) if op.contains("rebucketCcStore") => () // our own re-run IS the repair
      case Some(_) => repairCcStore(spark, path)
    }
    Similarity.markInflight(spark, path, "rebucketCcStore")
    rollForwardOrDrop(fs, s"$path/cclabels")
    rollForwardOrDrop(fs, s"$path/nodeidx")
    require(
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/cclabels")),
      s"rebucketCcStore: $path has no cclabels tree — rebuild with writeCcStore")
    val labels = spark.read.parquet(s"$path/cclabels")
    requireBucketedStore(labels, path, "cclabels", "writeCcStore")
    Similarity.rewriteDir(
      spark,
      labels
        .select("node", "comp")
        .withColumn("bucket", labelBucket(col("comp"), buckets))
        .repartition(col("bucket")),
      s"$path/cclabels",
      Seq("bucket"))
    if (Similarity.storeExists(spark, s"$path/nodeidx"))
      Similarity.rewriteDir(
        spark,
        spark.read.parquet(s"$path/nodeidx")
          .select("node", "comp")
          .withColumn("bucket", nodeBucket(col("node"), buckets))
          .repartition(col("bucket")),
        s"$path/nodeidx",
        Seq("bucket"))
    writeBucketing(spark, path, buckets)
    Similarity.clearInflight(spark, path)
  }

  /** Fold an edge-ADDITION batch into the label store incrementally.
    * Additions are MONOTONE — components only merge — so the whole
    * update derives from a LABEL GRAPH the size of the batch: map each
    * delta edge to its endpoints' current labels (a node the store has
    * never seen labels itself), star-contract those |delta|-bounded
    * label edges (merged groups resolve to the minimum involved label,
    * which is the merged component's true minimum node id, because every
    * old label already was its component's min), and apply the resulting
    * label→label remap with one equi-join whose remap side is
    * ≤ 2·|delta| rows (AQE broadcasts it) — reading AND rewriting only
    * the buckets holding a remap source, a remap target, or a new
    * node's component ([[labelBucket]] partition pruning), never
    * re-solving or rewriting the corpus. REMOVALS take
    * [[removeFromCcStore]]'s touched-component re-solve (a cut can SPLIT
    * a component, which labels alone cannot witness — that path needs
    * the caller's live edges).
    */
  def appendCcStore(batch: DataFrame, path: String): Unit =
    appendCcInternal(batch, path, None)

  /** The append worker. `logBatch = Some(n)` ([[ingestCcBatch]]) lands
    * the batch's remap pairs + new-node rows under `cclog/batch_id=n` in
    * the SAME staged apply as the label rewrite — the generation log
    * [[readCcLabelsAsOf]] replays; `None` (a direct batch append) instead
    * TRUNCATES any existing log first, because an unlogged mutation means
    * the log no longer describes the store's evolution.
    */
  private def appendCcInternal(
      batch: DataFrame, path: String, logBatch: Option[Long]): Unit = {
    val spark = batch.sparkSession
    repairCcStore(spark, path)
    // NOTE: unlike the edge mutators, the cc mutators run WITH adaptive
    // execution — their hot kernel is the clusterPairs star contraction
    // over potentially corpus-sized induced subgraphs, exactly the shape
    // AQE's runtime broadcasts and coalescing are for (measured: AQE off
    // cost +3 s on the removal bench row; the edge mutators' frames are
    // all |delta|-bounded, where AQE only adds scheduling rounds)
    val delta = undirectedEdges(batch).localCheckpoint()
    if (delta.isEmpty) return // nothing to merge: store untouched
    val nb = storeBuckets(spark, path)
    val labels = spark.read.parquet(s"$path/cclabels")
    requireBucketedStore(labels, path, "cclabels", "writeCcStore")
    val labeled = delta
      .join(labels.select(col("node").as("u"), col("comp").as("cu")), Seq("u"), "left")
      .join(labels.select(col("node").as("v"), col("comp").as("cv")), Seq("v"), "left")
      .select(
        col("u"),
        col("v"),
        coalesce(col("cu"), col("u")).as("cu"),
        coalesce(col("cv"), col("v")).as("cv"))
      .localCheckpoint()
    // the label graph: |delta|-bounded, solved by the same O(log) kernel.
    // The converged STARS are the remap verbatim — one row per non-root
    // label, target = component min — and the roots clusterPairs would
    // re-seat are exactly the rows the old `comp != comp_new` filter
    // dropped, so the nodes derivation + root join were pure re-work
    val remap = Dedup.ccStarContraction(
      labeled.filter(col("cu") =!= col("cv"))
        .select(col("cu").as("u"), col("cv").as("v")))._1
      .select(col("u").as("comp"), col("v").as("comp_new"))
      .localCheckpoint()
    // nodes the store has never seen enter with their (possibly remapped)
    // self label; known nodes keep their row and take the remap
    val newNodes = labeled
      .select(col("u").as("node"), col("cu").as("comp"))
      .unionAll(labeled.select(col("v").as("node"), col("cv").as("comp")))
      .join(labels.select("node"), Seq("node"), "left_anti")
      .distinct()
      .join(remap, Seq("comp"), "left")
      .select(col("node"), coalesce(col("comp_new"), col("comp")).as("comp"))
      .localCheckpoint()
    // only buckets holding a remap SOURCE (rows leave), a remap TARGET
    // (rows arrive), or a new node's final component change — everything
    // else is carried by not being rewritten
    val touched = touchedLabelBuckets(
      spark,
      remap.select(col("comp")).unionAll(remap.select(col("comp_new")))
        .unionAll(newNodes.select(col("comp"))),
      nb)
    if (touched.isEmpty) return // batch repeated known in-component edges
    // an UNLOGGED mutation on a logged store: the log stops describing
    // the evolution, so truncate it (idempotent — a crash right after
    // leaves exactly the truncated state this mutation implies)
    if (logBatch.isEmpty) {
      Similarity.deleteDir(spark, s"$path/cclog")
      Similarity.deleteDir(spark, s"$path/cclog_folded")
    }
    val content = labels
      .filter(col("bucket").isin(touched: _*)) // prunes on the PARTITION column
      .join(remap, Seq("comp"), "left")
      .select(col("node"), coalesce(col("comp_new"), col("comp")).as("comp"))
      .unionAll(newNodes)
    val trees = Seq(
      ("cclabels", content.withColumn("bucket", labelBucket(col("comp"), nb)), touched)) ++
      (if (!Similarity.storeExists(spark, s"$path/nodeidx")) Nil
       else {
         // the changed rows are exactly the remapped components' rows plus
         // the new nodes — their NODE buckets are the secondary index's
         // write set (the remap-source buckets are ⊆ touched, so the
         // pruned read below covers every changed row)
         val changedNodes = labels
           .filter(col("bucket").isin(touched: _*))
           .join(remap.select("comp"), Seq("comp"), "left_semi")
           .select("node")
           .unionAll(newNodes.select("node"))
         val nTouched = changedNodes
           .select(nodeBucket(col("node"), nb).as("b"))
           .distinct()
           .collect().map(_.getInt(0)).toSeq.sorted
         val idxContent = spark.read.parquet(s"$path/nodeidx")
           .filter(col("bucket").isin(nTouched: _*))
           .select("node", "comp")
           .join(remap, Seq("comp"), "left")
           .select(col("node"), coalesce(col("comp_new"), col("comp")).as("comp"))
           .unionAll(newNodes)
         Seq(("nodeidx", idxContent.withColumn("bucket", nodeBucket(col("node"), nb)), nTouched))
       })
    val logDelta = logBatch.map { _ =>
      remap.select(lit("remap").as("kind"), col("comp").as("a"), col("comp_new").as("b"))
        .unionAll(
          newNodes.select(lit("node").as("kind"), col("node").as("a"), col("comp").as("b")))
    }
    stageAndApply(spark, path, "appendCcStore",
      logBatch.map(n => s"cclog/batch_id=$n").getOrElse(""), replaceTarget = true,
      logDelta, trees)
  }

  /** Fold an edge-REMOVAL batch into the label store with a
    * TOUCHED-COMPONENT re-solve — the bounded middle between "refuse all
    * removals" and a corpus recompute: labels alone cannot witness a cut
    * (a removed bridge SPLITS a component), but they DO bound where the
    * split can land — only the components containing a removed edge's
    * endpoint can change, and every other label is untouched by
    * definition. So: semi-join the label table to the removed edges'
    * current components, re-run the [[graft.ops.Dedup.clusterPairs]]
    * star contraction on just the live edges INSIDE those components
    * (`liveAfter`, the caller's post-removal live edge set — e.g.
    * [[readEdgeSupport]]'s key set, or the source-of-truth edge table;
    * it must cover at least the touched components), and splice: nodes
    * of touched components take the re-solved label, nodes left with no
    * live edge keep a row as their own singleton (the store never
    * forgets a node it labeled), everyone else is carried unchanged.
    * New labels stay component-minimum node ids — a re-solved label is
    * the min of a SUBSET of the old component's nodes, so it can never
    * collide with an untouched component's min.
    *
    * Scale shape: one node-grain semi-join to find touched components
    * (a full label READ — comp-keyed buckets cannot prune a node
    * lookup), the O(log n) contraction over only their induced subgraph
    * (corpus-scan cost only when a touched component is itself
    * corpus-sized), and a label WRITE of only the buckets losing or
    * gaining rows ([[labelBucket]] — the edge-store support treatment,
    * so a small cut never rewrites the node-count-sized table). Removed
    * edges never seen by the store (or with unlabeled endpoints) touch
    * nothing.
    */
  def removeFromCcStore(removed: DataFrame, liveAfter: DataFrame, path: String): Unit = {
    val spark = removed.sparkSession
    repairCcStore(spark, path)
    // AQE stays ON here (see appendCcInternal): the induced-subgraph
    // re-solve is corpus-shaped work
    val rem = undirectedEdges(removed).localCheckpoint()
    if (rem.isEmpty) return // nothing removed: store untouched
    val nb = storeBuckets(spark, path)
    val labels = spark.read.parquet(s"$path/cclabels")
    requireBucketedStore(labels, path, "cclabels", "writeCcStore")
    val endpoints = rem
      .select(col("u").as("node")).unionAll(rem.select(col("v").as("node")))
      .distinct()
    val touchedComps = ccCompsOfNodes(spark, path, endpoints, labels, nb)
      .distinct()
      .localCheckpoint()
    if (touchedComps.isEmpty) return // no removed endpoint was ever labeled
    val tcBuckets = touchedLabelBuckets(spark, touchedComps, nb)
    val touchedNodes = labels
      .filter(col("bucket").isin(tcBuckets: _*)) // prunes on the PARTITION column
      .join(touchedComps, Seq("comp"), "left_semi")
      .select("node", "comp")
      .localCheckpoint()
    // a surviving live edge inside a touched component has BOTH endpoints
    // in it (they shared the old label) — prune the caller's live set to
    // touched-endpoint rows BEFORE the normalize/distinct shuffle, so a
    // small cut never pays a corpus-wide shuffle (the scan itself is
    // unavoidable; the shuffle is not)
    val liveRaw = liveAfter
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val induced = undirectedEdges(
      liveRaw
        .join(touchedNodes.select(col("node").as("src")), Seq("src"), "left_semi")
        .unionAll(
          liveRaw
            .join(touchedNodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .select("src", "dst")))
      .localCheckpoint()
    // fail-fast contract check (round-17 advisory): an induced edge whose
    // OTHER endpoint the store never labeled inside a touched component —
    // either a node the store never saw, or a label row in an untouched
    // component — means liveAfter and the store disagree about the graph;
    // silently dropping the edge would lose connectivity, keeping it
    // would duplicate a label row. Refuse symmetrically on BOTH endpoints
    // (the round-16 code semi-joined only the lower one).
    val nUnknown = induced
      .join(touchedNodes.select(col("node").as("u")), Seq("u"), "left_anti")
      .select(col("u").as("n"))
      .unionAll(
        induced
          .join(touchedNodes.select(col("node").as("v")), Seq("v"), "left_anti")
          .select(col("v").as("n")))
      .count()
    require(
      nUnknown == 0,
      s"removeFromCcStore: $nUnknown liveAfter edge endpoints touch a re-solved component " +
        s"but are not labeled inside it in $path — liveAfter must cover the touched " +
        "components with store-labeled nodes only (an unknown endpoint would either drop " +
        "connectivity or leave a node two label rows); rebuild with writeCcStore if the " +
        "store and the live edge set have diverged")
    // pre-normalized entry (induced is undirectedEdges-normalized and
    // checkpointed): skips the generic path's nodes derivation and
    // re-normalize shuffle
    val resolved = Dedup.ccLabelsOfEdges(induced)
      .localCheckpoint()
    val isolated = touchedNodes
      .select("node")
      .join(resolved.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("comp"))
      .localCheckpoint()
    // buckets losing rows (the touched comps') plus buckets gaining the
    // re-solved and singleton labels
    val touched = touchedLabelBuckets(
      spark,
      touchedComps
        .unionAll(resolved.select("comp"))
        .unionAll(isolated.select("comp")),
      nb)
    val content = labels
      .filter(col("bucket").isin(touched: _*)) // prunes on the PARTITION column
      .join(touchedComps, Seq("comp"), "left_anti")
      .select("node", "comp")
      .unionAll(resolved.select("node", "comp"))
      .unionAll(isolated.select("node", "comp"))
    val trees = Seq(
      ("cclabels", content.withColumn("bucket", labelBucket(col("comp"), nb)), touched)) ++
      (if (!Similarity.storeExists(spark, s"$path/nodeidx")) Nil
       else {
         // every changed row's node is a touched-component member, so the
         // secondary index's write set is their node buckets
         val nTouched = touchedNodes
           .select(nodeBucket(col("node"), nb).as("b"))
           .distinct()
           .collect().map(_.getInt(0)).toSeq.sorted
         val idxContent = spark.read.parquet(s"$path/nodeidx")
           .filter(col("bucket").isin(nTouched: _*))
           .select("node", "comp")
           .join(touchedNodes.select("node"), Seq("node"), "left_anti")
           .unionAll(resolved.select("node", "comp"))
           .unionAll(isolated.select("node", "comp"))
         Seq(("nodeidx", idxContent.withColumn("bucket", nodeBucket(col("node"), nb)), nTouched))
       })
    // a removal cannot be replayed from remap pairs (splits re-assign
    // labels wholesale), so it truncates the generation log: as-of reads
    // refuse afterwards instead of replaying a log that stopped being true
    Similarity.deleteDir(spark, s"$path/cclog")
    Similarity.deleteDir(spark, s"$path/cclog_folded")
    stageAndApply(spark, path, "removeFromCcStore", "", replaceTarget = false,
      None, trees)
  }

  /** The components holding `nodes` — [[removeFromCcStore]]'s membership
    * probe. With the node-bucketed secondary index the read prunes to the
    * probed nodes' buckets ([[nodeBucket]] partition pruning — the plan
    * spec pins it); a legacy store without `nodeidx` falls back to the
    * full label scan the comp-keyed layout forces. Exposed private[graft]
    * so the plan spec can assert the pruning on the exact frame the
    * mutator runs.
    */
  private[graft] def ccCompsOfNodes(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nodes: DataFrame,
      labels: DataFrame,
      nb: Int): DataFrame =
    if (Similarity.storeExists(spark, s"$path/nodeidx")) {
      val nodeBuckets = nodes
        .select(nodeBucket(col("node"), nb).as("b"))
        .distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      spark.read.parquet(s"$path/nodeidx")
        .filter(col("bucket").isin(nodeBuckets: _*)) // prunes on the PARTITION column
        .join(nodes, Seq("node"), "left_semi")
        .select("comp")
    } else
      labels
        .join(nodes, Seq("node"), "left_semi")
        .select("comp")

  /** One micro-batch of STREAMING label-store maintenance (the
    * foreachBatch body a growing interaction graph runs beside
    * [[ingestEdgeBatch]]): batch 0 — or a store with no params pin,
    * including a batch-built one being re-pointed — CLAIMS the root
    * (stale state dies first, the [[graft.ops.StoreLifecycle]] rule; an
    * empty batch 0 still wipes); every later batch folds through
    * [[appendCcStore]]. EXACTLY-ONCE here needs NO `as_of_batch` stamp,
    * unlike the edge store's support counts: min-label merging is
    * MONOTONE and IDEMPOTENT — re-delivering an already-merged batch
    * finds every edge's endpoints sharing a label (empty remap, no new
    * nodes) and leaves the store untouched byte-for-byte, and a crash
    * mid-apply rolls forward via [[repairCcStore]]'s staged protocol
    * before the retry re-merges — where a re-credited support count
    * would double. The asymmetry is the design note: streams
    * maintaining COUNTS must derive retry state (a stamp); streams
    * maintaining a MONOTONE JOIN-SEMILATTICE (min labels) get
    * exactly-once from idempotence alone. Layout is identical to the
    * batch store (bucketed labels, no per-batch generations), so the
    * batch mutators keep working on a stream-pointed store — the
    * single-writer discipline is the caller's, as everywhere.
    */
  def ingestCcBatch(batch: DataFrame, path: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (batchId == 0L || !Similarity.storeExists(spark, s"$path/params")) {
      // wipe BEFORE the empty check (the StoreLifecycle rule): an empty
      // batch 0 must still retire a previous run's store
      Seq("cclabels", "nodeidx", "nodeidx.compacting", "cclog", "cclog.compacting",
        "cclog_folded", "bucketing",
        "staged", "staged.compacting", "cclabels.compacting", "params")
        .foreach(d => Similarity.deleteDir(spark, s"$path/$d"))
      Similarity.clearInflight(spark, path) // a fresh stream resolves a crashed run
      if (undirectedEdges(batch).isEmpty) return
      // the pin lands AFTER the write (which deletes params by the
      // full-write contract): a crash between the two leaves a pinless
      // batch store the retry re-claims — never a pinned empty root; the
      // write also logs generation 0 (log included in any re-claim)
      writeCcStoreInternal(batch, path, supportBuckets, Some(batchId))
      Seq("cclabels-stream").toDF("kind")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
      return
    }
    appendCcInternal(batch, path, Some(batchId)) // self-repairing + idempotent (doc above)
  }

  /** TIME-TRAVEL read of a STREAM label store: the (node, comp) labels as
    * of generation `batchId` — the edge store's [[liveEdgesAsOf]] closing
    * its round-16 asymmetry. The live table cannot answer this (merges
    * fold labels in place), so [[ingestCcBatch]] logs each generation's
    * REMAP PAIRS (old comp → merged comp, ≤ 2·|delta| rows) and NEW-NODE
    * rows under `cclog/batch_id=N`, and this read replays the log:
    * restrict to `batch_id <= N`, resolve every logged insertion label
    * through the remap closure, done — no per-batch snapshots kept.
    *
    * Why one [[graft.ops.Dedup.clusterPairs]] pass resolves the chains
    * exactly, with no per-batch loop: in the append-only stream, remap
    * TARGETS are merged-set minima, so every remap strictly DECREASES the
    * label and a retired label can never reappear as a live component
    * (its node now sits inside a smaller-minimum component, and merging
    * is monotone) — hence each label is a remap SOURCE at most once
    * across all generations, the restricted log is a functional acyclic
    * graph, every weakly-connected set funnels into its unique sink, and
    * that sink IS the set's minimum (any other member has a decreasing
    * path onto it). So cluster-min = chain-terminal, which is exactly the
    * label as of N. A node logged at batch b carries its post-batch-b
    * label, and no remap of batch ≤ b can have it as a source (the label
    * was live at b), so replaying the WHOLE restricted log over every
    * node is safe. Mutations outside the stream (a direct batch append, a
    * removal — whose splits re-assign labels wholesale and cannot be
    * expressed as remap pairs) TRUNCATE the log, and this read then
    * refuses with that stated instead of replaying a log that stopped
    * being true.
    *
    * Scale shape: one partition-pruned log read (`batch_id <= N`), the
    * O(log n) contraction over cumulative-merge-count rows, one
    * broadcastable equi-join onto the logged insertions.
    */
  def readCcLabelsAsOf(
      spark: org.apache.spark.sql.SparkSession, path: String, batchId: Long): DataFrame = {
    Similarity.requireNotInflight(spark, path)
    require(
      Similarity.storeExists(spark, s"$path/cclog"),
      s"readCcLabelsAsOf: the label store at $path keeps no generation log — only " +
        "ingestCcBatch-maintained stores do, and a batch append or a removal truncates " +
        "it (merges fold labels in place and splits re-assign them, so history is not " +
        "reconstructable from the live table)")
    val fs = hfs(spark, path)
    val foldPin = new org.apache.hadoop.fs.Path(s"$path/cclog_folded")
    if (fs.exists(foldPin)) {
      val folded = readTextFile(fs, foldPin).trim.toLong
      require(
        batchId >= folded,
        s"readCcLabelsAsOf: generations <= $folded of $path were folded by compactCcLog " +
          s"(asked for $batchId) — the folded prefix is indivisible, the liveEdgesAsOf " +
          "contract; compaction bounds resolution")
    }
    // batch_id <= N naturally includes a folded prefix (batch_id = -1)
    replayCcLog(spark.read.parquet(s"$path/cclog").filter(col("batch_id") <= batchId))
  }

  /** Resolve a (restricted) remap log to labels: logged insertion labels
    * chased through the remap closure — one [[graft.ops.Dedup.clusterPairs]]
    * pass, exact by the monotone argument in [[readCcLabelsAsOf]]'s doc.
    */
  private def replayCcLog(log: DataFrame): DataFrame = {
    val nodes0 = log.filter(col("kind") === "node")
      .select(col("a").as("node"), col("b").as("comp0"))
    val remaps = log.filter(col("kind") === "remap")
      .select(col("a").as("cu"), col("b").as("cv"))
      .localCheckpoint()
    if (remaps.isEmpty) nodes0.select(col("node"), col("comp0").as("comp"))
    else {
      val resolved = Dedup.clusterPairs(remaps, "cu", "cv")
        .select(col("doc_id").as("comp0"), col("cluster_id").as("comp_new"))
      nodes0
        .join(resolved, Seq("comp0"), "left")
        .select(col("node"), coalesce(col("comp_new"), col("comp0")).as("comp"))
    }
  }

  /** Bound the remap log's replay cost AND its generation count: fold
    * every generation `<= upTo` into ONE synthetic `batch_id = -1`
    * holding the RESOLVED labels as of `upTo` (kind=node rows only — the
    * prefix's remaps are applied away), keeping later generations
    * verbatim. As-of reads above the fold stay exact: a later remap's
    * source was a live label at its batch, so replaying (folded nodes +
    * later log) composes by the same monotone argument; as-of reads
    * BELOW the fold refuse — the folded prefix is indivisible, exactly
    * [[compactEdgeStore]]'s `batch_id = -1` contract on the edge store.
    * `-1` can never collide with a replayed stream batch (real ids are
    * >= 0), and a duplicate resend of an already-folded batch still
    * lands nothing (its edges are folded into the live labels, so its
    * delta remaps nothing — idempotence survives the fold). A fold can
    * only move FORWARD (`upTo` >= any prior fold point).
    *
    * Crash posture: the fold pin lands BEFORE the tree swap, so every
    * window is conservative — pin-without-fold only over-refuses
    * below-pin reads; the swap itself is [[graft.ops.Similarity.rewriteDir]]
    * under the marker, and [[repairCcStore]] rolls a complete tmp
    * forward. Scale shape: one replay of the prefix (O(log n)
    * contraction over its remaps) + one partitioned rewrite of the log —
    * rows bounded by |nodes| + Σ later deltas, never the corpus graph.
    */
  def compactCcLog(
      spark: org.apache.spark.sql.SparkSession, path: String, upTo: Long): Unit = {
    require(upTo >= 0, s"upTo must be >= 0, got $upTo")
    repairCcStore(spark, path)
    require(
      Similarity.storeExists(spark, s"$path/cclog"),
      s"compactCcLog: the label store at $path keeps no generation log")
    val fs = hfs(spark, path)
    val foldPin = new org.apache.hadoop.fs.Path(s"$path/cclog_folded")
    if (fs.exists(foldPin)) {
      val prior = readTextFile(fs, foldPin).trim.toLong
      require(
        upTo >= prior,
        s"compactCcLog: $path is already folded through generation $prior — a fold can " +
          s"only move forward (got $upTo); resolution below a fold point is gone")
    }
    Similarity.markInflight(spark, path, "compactCcLog")
    rollForwardOrDrop(fs, s"$path/cclog")
    val log = spark.read.parquet(s"$path/cclog")
    val folded = replayCcLog(log.filter(col("batch_id") <= upTo))
      .select(lit("node").as("kind"), col("node").as("a"), col("comp").as("b"))
      .withColumn("batch_id", lit(-1L))
      .localCheckpoint() // the rewrite must not re-read the tree it replaces
    val rest = log.filter(col("batch_id") > upTo)
      .select(col("kind"), col("a"), col("b"), col("batch_id"))
      .localCheckpoint()
    writeTextFile(fs, foldPin, upTo.toString)
    Similarity.rewriteDir(spark, folded.unionAll(rest), s"$path/cclog", Seq("batch_id"))
    Similarity.clearInflight(spark, path)
  }

  /** The label store's read face, refusing a mid-crash store. Matches
    * [[graft.ops.Dedup.clusterPairs]] over the union of everything ever
    * written/appended (minus removals re-solved against the caller's
    * live set) — the invariant the spec and driver rows pin.
    */
  def readCcLabels(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    Similarity.requireNotInflight(spark, path)
    spark.read.parquet(s"$path/cclabels").select("node", "comp")
  }

  /** The distinct [[labelBucket]] values of a `comp` column — the
    * mutation's write set. Bounded decision read: ≤ [[supportBuckets]]
    * rows ever.
    */
  private def touchedLabelBuckets(
      spark: org.apache.spark.sql.SparkSession, comps: DataFrame, n: Int): Seq[Int] =
    comps
      .select(labelBucket(col("comp"), n).as("b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
      .sorted

  /** The label store's repair, run by every mutator first — the
    * edge-store protocol on one tree: a COMMITTED staged tree rolls
    * forward (completing the crashed mutation), an uncommitted tmp is
    * discarded (the mutation never happened), a full write's COMPLETE
    * `.compacting` swap rolls forward (its `_SUCCESS` is the
    * completeness witness — a half-written tmp must never be promoted
    * to live), and the then-consistent store has its marker cleared so
    * the caller's own work proceeds. Every cc mutation is idempotent
    * (a re-merged append remaps nothing; a re-run removal re-solves to
    * the same labels), so re-running the interrupted op is always the
    * complete recovery. The ONE unrepairable marker is an interrupted
    * [[writeCcStore]] — a full rebuild of an EXISTING store that never
    * committed cannot be finished by an incremental mutator (proceeding
    * against the old base would silently discard the rebuild), so only
    * re-running the rebuild recovers, stated in the refusal. Readers
    * still refuse any marker mid-apply.
    */
  private def repairCcStore(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = hfs(spark, path)
    Similarity.inflightOp(spark, path) match {
      case None =>
        Similarity.deleteDir(spark, s"$path/staged.compacting")
      case Some(op) if op.contains("writeCcStore") =>
        throw new IllegalStateException(
          s"cc label store at $path has an interrupted 'writeCcStore' (inflight marker " +
            "present) — a full rebuild is not incrementally repairable; re-run " +
            "writeCcStore to completion")
      case Some(op) if op.contains("rebucketCcStore") =>
        // see repairEdgeStore: a generic roll-forward would promote the
        // relayout without its pin — only the re-run knows the target
        throw new IllegalStateException(
          s"cc label store at $path has an interrupted 'rebucketCcStore' — re-run " +
            "rebucketCcStore to completion (content-preserving, re-runnable from every " +
            "crash window; other mutators cannot know its target layout)")
      case Some(_) =>
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/staged")))
          applyStaged(spark, path)
        Similarity.deleteDir(spark, s"$path/staged.compacting")
        // drop-on-incomplete is CORRECT for all three trees (unlike the
        // edge store's edges/support, where a lost live dir means lost
        // data): cclabels is only full-rewritten under refusing markers
        // (writeCcStore/rebucketCcStore), a lost nodeidx degrades to the
        // documented unindexed fallback, and a lost cclog makes as-of
        // reads refuse — conservative, never wrong
        Seq("cclabels", "nodeidx", "cclog").foreach(sub =>
          Similarity.rollForwardOrDrop(fs, s"$path/$sub"))
        Similarity.clearInflight(spark, path)
    }
  }

  // ---- the edge store's staged commit protocol ----
  //
  // Every incremental mutation spans two trees (edges-or-tombstones AND
  // the bucketed support), so it commits through ONE staged directory:
  //   1. the op's full output lands under `staged.compacting`
  //      (edges_delta/, support/bucket=K/ for every touched bucket —
  //      emptied buckets as explicit empty dirs — and an `op` manifest);
  //   2. `rename(staged.compacting, staged)` is the ATOMIC COMMIT POINT;
  //   3. the apply phase folds the staged tree into the live dirs
  //      (file-moves and per-bucket swaps, each idempotent) and deletes it.
  // A crash before (2) leaves the store untouched (tmp is garbage); a
  // crash after it leaves a committed staged tree any later mutator rolls
  // forward. Hence the self-repair invariant the mutators rely on:
  // MARKER WITHOUT A STAGED TREE ⇒ THE STORE IS CONSISTENT.

  private def hfs(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run the DELTA-BOUNDED tail of an incremental edge-store mutation
    * without adaptive execution and at a shuffle width sized from the
    * measured delta. Two coupled fixes for the round-16 "+4 s per store
    * row", both scheduling overhead, neither data:
    *
    *  - AQE schedules every shuffle stage as its own driver job
    *    (re-optimizing between them) — right for one big exploratory
    *    query, wrong for a mutation protocol of many SMALL
    *    materializations (one append was 25 driver jobs with AQE, 15
    *    without; the counted-jobs spec pins the ceiling). The tail gives
    *    up nothing AQE would buy: its plans are structurally skew-proof
    *    (delta wedges anchor at the low-degree endpoint, store reads
    *    prune on the bucket partition column, every frame is
    *    |delta|·avg-degree-bounded by construction).
    *  - the session's `shuffle.partitions` is sized for corpus work; a
    *    small churn batch through full-width shuffles pays task-launch
    *    latency per stage for nothing (measured ~0.9 s of the append).
    *    The width here is `min(session, max(8, deltaRows/50k))` — what
    *    AQE's coalescing would pick, without its per-stage job rounds —
    *    so a 10M-edge daily delta at 100 TB still fans out while the
    *    bench's 9k-edge batch runs 8-wide.
    *
    * The CORPUS-SHAPED work stays outside: full builds keep AQE (one big
    * solve — its use case), and each mutator materializes its delta
    * (anti-join against the live corpus) under session conf BEFORE
    * entering the tail, which is also what supplies `deltaRows`. The
    * third knob: a >32-bucket store trips Spark's parallel
    * partition-discovery threshold, turning every pruned read's listing
    * into its own distributed job — driver-side listing of a few
    * thousand bucket dirs is microseconds. All keys restore on exit even
    * on failure; they are session-scoped, so a concurrent reader
    * planning inside the window merely plans non-adaptively (a perf
    * nuance, never a correctness one).
    */
  private def deltaScoped[T](
      spark: org.apache.spark.sql.SparkSession, deltaRows: Long)(f: => T): T = {
    val session = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val width = math.min(session.toLong, math.max(8L, deltaRows / 50000L + 1L))
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "4096")
    val olds = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The buckets a mutation must rewrite: every bucket holding a churned
    * edge or a credited edge. The collect is a bounded decision read —
    * at most [[supportBuckets]] rows ever.
    */
  private def touchedBucketIds(churned: DataFrame, credits: DataFrame, n: Int): Seq[Int] =
    churned.select(col("u"), col("v"))
      .unionAll(credits.select(col("u"), col("v")))
      .select(supportBucket(col("u"), col("v"), n).as("b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
      .sorted

  private def withSupportBucket(supportNew: DataFrame, n: Int): DataFrame =
    supportNew.withColumn("bucket", supportBucket(col("u"), col("v"), n))

  /** Fail fast, with the repair named, when a store predates the
    * bucketed layout (a flat table from an older binary): the mutators'
    * per-bucket swaps would otherwise land partition dirs beside flat
    * part-files — mixed layouts Spark refuses to read, AFTER a committed
    * corruption. A full rebuild re-lays the store.
    */
  private def requireBucketedStore(
      df: DataFrame, path: String, sub: String, rebuildOp: String): Unit =
    require(
      df.columns.contains("bucket"),
      s"$sub at $path predates the hash-bucketed layout (no bucket partition column) — " +
        s"rebuild the store with $rebuildOp before mutating it")

  /** The old support rows of the touched buckets only — the bucket filter
    * is on the partition column, so the scan prunes to those directories.
    */
  private def readSupportBuckets(
      spark: org.apache.spark.sql.SparkSession, path: String, touched: Seq[Int]): DataFrame = {
    val support = spark.read.parquet(s"$path/support")
    requireBucketedStore(support, path, "support", "writeEdgeStore")
    support
      .filter(col("bucket").isin(touched: _*))
      .select("u", "v", "support")
  }

  /** Steps 1-3 of the protocol above: build, commit, apply. `edgesDelta`
    * (when present) lands under `$path/$deltaTarget` — appended
    * file-by-file (`replaceTarget` false: the batch store's
    * `edges`/`tombstones` grow), or as a whole-directory swap
    * (`replaceTarget` true: the stream store's `edges/batch_id=N`
    * generation, where a retry must replace its own half-landed files;
    * also the batch compaction's flat `edges` rewrite). `bucketed` is a
    * list of `(sub, content, touched)` trees — the new content of the
    * touched buckets of each `$path/$sub`, WITH the bucket column
    * already attached; every touched bucket is staged even when its new
    * content is empty, so the apply can retire emptied buckets (with ONE
    * schema-bearing empty file seeded, so a mutation emptying every
    * populated bucket never leaves a tree parquet schema inference
    * cannot read). The CC label store reuses the whole protocol with
    * subs `cclabels` + `nodeidx` and its remap log as the delta tree.
    * `stamp` (stream stores) swaps the plain-file exactly-once stamp in
    * the same apply; `clearTombs` (batch compaction) deletes the
    * tombstones inside the apply, so no crash window can separate the
    * edges rewrite from the tombstone clear.
    */
  private def stageAndApply(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      op: String,
      deltaTarget: String,
      replaceTarget: Boolean,
      edgesDelta: Option[DataFrame],
      bucketed: Seq[(String, DataFrame, Seq[Int])],
      stamp: Option[Long] = None,
      clearTombs: Boolean = false): Unit = {
    val fs = hfs(spark, path)
    val tmp = s"$path/staged.compacting"
    Similarity.deleteDir(spark, tmp)
    edgesDelta.foreach(_.write.mode("overwrite").parquet(s"$tmp/edges_delta"))
    bucketed.foreach { case (sub, df, touched) =>
      df
        // one shuffle on the partition column so each bucket lands as ONE
        // file — a plain partitionBy write emits a file per (task, bucket)
        // pair, and 32 tasks x 64 buckets of tiny files taxes every later
        // pruned read (measured 2-3x on the store rows at sf0.1)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$tmp/$sub")
      var schemaSeeded = false
      touched.foreach { b =>
        val d = new org.apache.hadoop.fs.Path(s"$tmp/$sub/bucket=$b")
        if (!fs.exists(d)) {
          // emptied bucket: swap an empty dir in — but seed the FIRST one
          // with a schema-bearing empty parquet (limit 0 collapses to an
          // empty relation, nothing evaluates), so a mutation emptying
          // every populated bucket still leaves a readable tree
          if (!schemaSeeded) {
            df.drop("bucket").limit(0).write.parquet(d.toString)
            schemaSeeded = true
          } else fs.mkdirs(d)
        }
      }
    }
    stamp.foreach(n =>
      writeTextFile(fs, new org.apache.hadoop.fs.Path(s"$tmp/stamp"), n.toString))
    writeTextFile(
      fs,
      new org.apache.hadoop.fs.Path(s"$tmp/op"),
      s"$op\n$deltaTarget\n${if (replaceTarget) "replace" else "append"}\n" +
        s"${bucketed.map(_._1).mkString(",")}\n${if (clearTombs) "clear_tombstones" else "-"}")
    Similarity.markInflight(spark, path, op) // refuse probes through the apply window
    require(
      fs.rename(
        new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(s"$path/staged")),
      s"staged commit rename $tmp -> $path/staged failed")
    applyStaged(spark, path)
    Similarity.clearInflight(spark, path)
  }

  /** Fold a COMMITTED staged tree into the live dirs; idempotent, so a
    * crash anywhere inside re-applies cleanly on the next call. Appended
    * delta files keep their job-unique part names (a moved file vanishes
    * from the staged side — re-runs move only the remainder); a replace
    * target is delete-then-rename (a re-run after the delete just
    * renames); each support bucket is delete-then-rename likewise.
    */
  private def applyStaged(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = hfs(spark, path)
    val staged = s"$path/staged"
    val manifest = readTextFile(fs, new org.apache.hadoop.fs.Path(s"$staged/op"))
    val lines = manifest.split("\n", 5)
    val (deltaTarget, mode) = (lines(1), lines(2))
    // line 4: comma-joined bucketed subs — absent (a legacy 3-line
    // manifest) means the original single "support" tree; explicitly
    // empty (the compaction path) means none
    val bucketSubs: Seq[String] =
      if (lines.length <= 3) Seq("support")
      else lines(3).split(",").filter(_.nonEmpty).toSeq
    val flags = if (lines.length > 4) lines(4) else "-"
    val deltaDir = new org.apache.hadoop.fs.Path(s"$staged/edges_delta")
    if (fs.exists(deltaDir)) {
      val target = new org.apache.hadoop.fs.Path(s"$path/$deltaTarget")
      if (mode == "replace") {
        if (fs.exists(target)) fs.delete(target, true)
        require(fs.rename(deltaDir, target), s"apply rename $deltaDir -> $target failed")
      } else {
        if (!fs.exists(target)) fs.mkdirs(target)
        fs.listStatus(deltaDir)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .foreach { f =>
            val dst = new org.apache.hadoop.fs.Path(target, f.getPath.getName)
            require(fs.rename(f.getPath, dst), s"apply move ${f.getPath} -> $dst failed")
          }
        fs.delete(deltaDir, true)
      }
    }
    bucketSubs.foreach { bucketSub =>
      val supDir = new org.apache.hadoop.fs.Path(s"$staged/$bucketSub")
      if (fs.exists(supDir)) {
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/$bucketSub")))
          fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/$bucketSub"))
        fs.listStatus(supDir)
          .filter(d => d.isDirectory && d.getPath.getName.startsWith("bucket="))
          .foreach { d =>
            val dst = new org.apache.hadoop.fs.Path(s"$path/$bucketSub/${d.getPath.getName}")
            if (fs.exists(dst)) fs.delete(dst, true)
            require(fs.rename(d.getPath, dst), s"apply swap ${d.getPath} -> $dst failed")
          }
        fs.delete(supDir, true)
      }
    }
    // the stream store's exactly-once stamp swaps inside the same apply
    val stampFile = new org.apache.hadoop.fs.Path(s"$staged/stamp")
    if (fs.exists(stampFile)) {
      val dst = new org.apache.hadoop.fs.Path(s"$path/support_stamp")
      if (fs.exists(dst)) fs.delete(dst, true)
      require(fs.rename(stampFile, dst), s"apply stamp swap -> $dst failed")
    }
    if (flags.contains("clear_tombstones")) Similarity.clearTombstones(spark, path)
    Similarity.deleteDir(spark, staged)
  }

  /** Entry-point repair every incremental mutator runs first — the
    * followable form of "re-run the interrupted op": a committed staged
    * tree rolls forward (completing the crashed mutation), an
    * uncommitted tmp is discarded (the crashed mutation never happened),
    * a [[compactEdgeStore]] `.compacting` swap rolls forward, and the
    * then-consistent store has its marker cleared, so the caller's own
    * work proceeds. The ONE unrepairable marker is an interrupted
    * [[writeEdgeStore]]: a full rebuild deletes and rewrites several
    * trees with no staging, so only re-running the rebuild itself
    * recovers — stated in the refusal instead of a dead-end loop.
    */
  private def repairEdgeStore(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = hfs(spark, path)
    Similarity.inflightOp(spark, path) match {
      case None =>
        // no marker ⇒ any tmp is pre-mark garbage from a crashed build
        Similarity.deleteDir(spark, s"$path/staged.compacting")
      case Some(op) if op.contains("writeEdgeStore") =>
        throw new IllegalStateException(
          s"edge store at $path has an interrupted 'writeEdgeStore' (inflight marker " +
            "present) — a full rebuild stages nothing, so its partial state is not " +
            "incrementally repairable; re-run writeEdgeStore to completion")
      case Some(op) if op.contains("rebucketEdgeStore") =>
        // the generic roll-forward below would promote a completed
        // relayout tree WITHOUT updating the bucketing pin — wrong layout
        // under the old pin; only the relayout op itself (which carries
        // the target count and re-runs content-preservingly from any
        // window) can finish this
        throw new IllegalStateException(
          s"edge store at $path has an interrupted 'rebucketEdgeStore' — re-run " +
            "rebucketEdgeStore to completion (the relayout is content-preserving and " +
            "re-runnable from every crash window; other mutators cannot know its target " +
            "layout)")
      case Some(_) =>
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/staged")))
          applyStaged(spark, path)
        Similarity.deleteDir(spark, s"$path/staged.compacting")
        // compactEdgeStore's rewriteDir window (and a legacy support
        // swap): a live dir missing with a COMPLETE .compacting tree
        // (its `_SUCCESS` is the completeness witness) rolls forward; a
        // tmp beside a live dir, or a half-written tmp, is pre-swap
        // garbage that must never be promoted
        Seq("edges", "support").foreach { sub =>
          val live = new org.apache.hadoop.fs.Path(s"$path/$sub")
          val tmp = new org.apache.hadoop.fs.Path(s"$path/$sub.compacting")
          if (fs.exists(tmp)) {
            if (!fs.exists(live) &&
              fs.exists(new org.apache.hadoop.fs.Path(s"$path/$sub.compacting/_SUCCESS")))
              require(fs.rename(tmp, live), s"rolling forward $tmp -> $live failed")
            else if (fs.exists(live)) fs.delete(tmp, true)
            else throw new IllegalStateException(
              s"edge store at $path lost $sub mid-rewrite and the .compacting tree is " +
                "incomplete — rebuild with writeEdgeStore")
          }
        }
        Similarity.clearInflight(spark, path)
    }
  }

  private def liveEdges(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val e = spark.read.parquet(s"$path/edges")
    if (Similarity.storeExists(spark, s"$path/tombstones"))
      e.join(spark.read.parquet(s"$path/tombstones"), Seq("u", "v"), "left_anti")
    else e
  }

  /** A params pin marks a STREAM-maintained store ([[ingestEdgeBatch]]);
    * the batch mutators refuse it — a flat append beside `batch_id=N`
    * generation dirs breaks partition discovery, and removals on a
    * stream store would race its ingest.
    */
  private def requireBatchBuilt(
      spark: org.apache.spark.sql.SparkSession, path: String, what: String): Unit =
    require(
      !Similarity.storeExists(spark, s"$path/params"),
      s"$what: the edge store at $path is stream-maintained (params pin present) — " +
        "route additions through ingestEdgeBatch; removals need a batch-built store")

  /** Each delta edge's wedge candidates `(x, y, w)` — the edge oriented
    * so the SCAN ANCHOR `x` is its lower-degree endpoint in `live` (ties
    * by id, the [[edgeSupport]] orientation), `y` the other endpoint, and
    * `w` one of x's live neighbors: a delta edge landing on a hub must
    * enumerate the SMALL endpoint's adjacency, not the hub's million
    * neighbors (the same reason the batch recompute degree-orients).
    * Exposed to the spec so the candidate-count shrink is a logged,
    * asserted number, never a silent assumption. Both inputs must be
    * (u < v)-normalized and checkpointed; delta ⊆ live.
    */
  private[graft] def wedgeCandidates(delta: DataFrame, live: DataFrame): DataFrame = {
    // orientation needs degrees of DELTA ENDPOINTS only (<= 2|delta|
    // nodes), so the adjacency is semi-joined down BEFORE the count —
    // the round-16 version shuffled the full 2|E|-row degree aggregate
    // per mutation, the one corpus-sized shuffle in the delta tail
    val ends = delta
      .select(col("u").as("node")).unionAll(delta.select(col("v").as("node")))
      .distinct()
    val deg = live
      .select(col("u").as("node"))
      .unionAll(live.select(col("v").as("node")))
      .join(ends, Seq("node"), "left_semi")
      .groupBy("node")
      .agg(count(lit(1)).as("d"))
    val oriented = delta
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v"))
          .as("x"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u"))
          .as("y"))
    val adj = live
      .select(col("u").as("x"), col("v").as("w"))
      .unionAll(live.select(col("v").as("x"), col("u").as("w")))
    adj
      .join(oriented, Seq("x"))
      .filter(col("w") =!= col("y"))
  }

  /** Triangles of `live` containing at least one `delta` edge, found ONCE
    * each ([[wedgeCandidates]] closed against the live edge list, then
    * deduped by sorted node triple — a triangle with two or three delta
    * edges must not double-credit, and the dedup also makes the result
    * independent of which endpoint anchored the wedge), credited +1 to
    * all three edges: `(u, v, c)`. Both inputs must be (u < v)-normalized
    * and checkpointed; delta ⊆ live.
    */
  /** Single-task fast path for [[touchedTriangleCredits]] (the
    * [[localEdgeSupport]] discipline): adjacency of `live`, one
    * common-neighbor walk per delta edge. A triangle holding SEVERAL
    * delta edges is counted exactly once — at its lexicographically
    * smallest delta edge (the canonical representative), which needs only
    * the delta SET, never a triple set, so memory stays O(|live|). Both
    * inputs ride one tagged union into the task (no driver collect).
    */
  private def localTriangleCredits(delta: DataFrame, live: DataFrame): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    delta.select(lit(0).as("t"), col("u"), col("v"))
      .unionAll(live.select(lit(1).as("t"), col("u"), col("v")))
      .as[(Int, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val deltaEdges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val deltaSet = new java.util.HashSet[(Long, Long)]()
        val adj = new java.util.HashMap[Long, java.util.HashSet[java.lang.Long]]()
        def add(a: Long, b: Long): Unit = {
          var s = adj.get(a)
          if (s == null) { s = new java.util.HashSet[java.lang.Long](); adj.put(a, s) }
          s.add(b); ()
        }
        it.foreach {
          case (0, u, v) => deltaEdges += ((u, v)); deltaSet.add((u, v)); ()
          case (_, u, v) => add(u, v); add(v, u)
        }
        def lt(a: (Long, Long), b: (Long, Long)): Boolean =
          a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
        val credits = new java.util.HashMap[(Long, Long), Long]()
        def credit(a: Long, b: Long): Unit = {
          credits.merge(if (a < b) (a, b) else (b, a), 1L, (x, y) => x + y); ()
        }
        deltaEdges.foreach { case (u, v) =>
          val su = adj.get(u)
          val sv = adj.get(v)
          if (su != null && sv != null) {
            val (small, big) = if (su.size <= sv.size) (su, sv) else (sv, su)
            val i = small.iterator()
            while (i.hasNext) {
              val w = i.next().longValue()
              if (w != u && w != v && big.contains(w)) {
                val e = (u, v)
                val uw = if (u < w) (u, w) else (w, u)
                val vw = if (v < w) (v, w) else (w, v)
                val minDelta = (deltaSet.contains(uw) && lt(uw, e)) ||
                  (deltaSet.contains(vw) && lt(vw, e))
                if (!minDelta) { credit(u, v); credit(u, w); credit(v, w) }
              }
            }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val es = credits.entrySet().iterator()
        while (es.hasNext) {
          val e = es.next()
          out += ((e.getKey._1, e.getKey._2, e.getValue))
        }
        out.iterator
      }
      .toDF("u", "v", "c")
  }

  private def touchedTriangleCredits(delta: DataFrame, live: DataFrame): DataFrame = {
    if (isLongPair(delta) && isLongPair(live)) {
      // live is checkpointed (or a union of checkpointed frames) by the
      // mutators' contract, so the gate count is cheap
      val nl = live.count()
      if (nl > 0L && nl <= graphLocalCutoff(live.sparkSession))
        return localTriangleCredits(delta, live)
    }
    val tris = wedgeCandidates(delta, live)
      .join(
        live.select(col("u").as("cu"), col("v").as("cv")),
        least(col("y"), col("w")) === col("cu") && greatest(col("y"), col("w")) === col("cv"),
        "left_semi")
      .select(array_sort(array(col("x"), col("y"), col("w"))).as("t"))
      .distinct()
      .select(
        element_at(col("t"), 1).as("a"),
        element_at(col("t"), 2).as("b"),
        element_at(col("t"), 3).as("c"))
    tris
      .select(
        explode(
          array(
            struct(col("a").as("u"), col("b").as("v")),
            struct(col("a").as("u"), col("c").as("v")),
            struct(col("b").as("u"), col("c").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).cast("long").as("c"))
  }
}
