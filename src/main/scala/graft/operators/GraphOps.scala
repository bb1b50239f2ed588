package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed connected components — the transitive-closure step a
  * dedup pipeline needs to resolve duplicate PAIRS into duplicate
  * CLUSTERS (doc A dups B under band 1, B dups C under band 2 ⇒
  * {A,B,C} is ONE cluster even though A and C never collided).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — public
  * algorithm, re-expressed on DataFrames). Each round:
  *
  *   - '''large-star''': every node connects its strictly-larger
  *     neighbors to the minimum of its neighborhood (incl. itself);
  *   - '''small-star''': every node connects its smaller-or-equal
  *     neighbors (and itself) to its minimum neighbor.
  *
  * Both steps are a groupBy(node) min + an equi-join — partial-agg
  * shuffles whose output never exceeds the input edge count, and the
  * graph contracts toward a star per component in '''O(log n)'''
  * rounds (vs O(diameter) for plain min-label propagation — a chain
  * of 1M near-dups converges in ~20 rounds, not 1M).
  *
  * Ids can be any orderable type (long doc ids, string hashes);
  * the component label is the minimum id in the component. Only
  * nodes that appear in at least one edge are labeled — callers
  * union in singletons if they need total coverage (the dedup
  * pipelines only cluster docs that collided with something).
  */
object GraphOps {

  /** @param edges DataFrame with columns `src`, `dst` (same type).
    * @return (id, component) for every distinct endpoint, where
    *   component = min id reachable from it; self-loops and
    *   duplicate/reversed edges are tolerated.
    */
  def connectedComponents(edges0: DataFrame, maxIter: Int = 50): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // canonical undirected form: (hi > lo), no self loops, distinct.
    // Each round ends in localCheckpoint: iterative self-reference
    // would otherwise double the LOGICAL plan depth every round
    // (cache does not truncate lineage) — analysis cost explodes and
    // deep trees overflow the stack. Checkpoint blocks are freed by
    // the ContextCleaner as old round RDDs go out of scope, and the
    // round count is O(log n)-bounded.
    var edges = edges0
      .filter(col("src") =!= col("dst"))
      .select(
        greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .distinct()
      .localCheckpoint(true)
    var prevCount = edges.count()
    var converged = prevCount == 0
    var iter = 0
    while (!converged && iter < maxIter) {
      // ---- large-star over the symmetrized neighborhood ----
      // min-maps are node-sized (one row per endpoint): broadcast
      // them under the ceiling so the edge-sized sides never shuffle
      val nb = nodeHint(prevCount * 2 <= DegreeBroadcastMaxNodes) _
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val afterLarge = sym.join(nb(mins), "u")
        .filter(col("v") > col("u"))
        // v > u ≥ m, so (v, m) is already (hi, lo)-oriented
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // ---- small-star on the (hi > lo) orientation ----
      val mins2 = afterLarge.groupBy("hi").agg(min(col("lo")).as("m"))
      val next = afterLarge.join(nb(mins2), "hi")
        .filter(col("lo") =!= col("m"))
        // lo > m (m is the min neighbor), so orientation holds
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(mins2.select(col("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint(true)
      // fixpoint: the edge set is stable (both sides are distinct
      // canonical sets, so count-equal + one-sided except = equality)
      val nextCount = next.count()
      converged = nextCount == prevCount &&
        next.exceptAll(edges).limit(1).isEmpty
      // round N's blocks are dead once round N+1 is materialized and
      // the fixpoint check above has read them
      dropSupersededCheckpoint(edges)
      edges = next
      prevCount = nextCount
      iter += 1
    }
    // at the fixpoint every edge points a node at its component min
    val out = edges.select(col("hi").as("id"), col("lo").as("component"))
      .union(edges.select(col("lo").as("id"), col("lo").as("component")))
      .distinct()
    out
  }

  /** PageRank by the damped power method (Page/Brin 1998, public
    * algorithm) — the link-centrality quality signal of web-scale
    * corpus curation (rank hosts/docs by the crawl graph, keep the
    * head).
    *
    * Scale shape per iteration: the edge frame (joined once, up
    * front, with out-degrees and repartitioned+cached by `src`) is
    * the 100 TB axis; each round joins the node-sized rank frame to
    * it on `src` (ranks shuffle TO the cached edge partitioning —
    * the big side never re-shuffles), then ONE map-side-combinable
    * `groupBy(dst)` sums contributions. Dangling mass (nodes with no
    * out-edges) is a 1-row aggregate broadcast into the update — no
    * per-node fanout. Each round ends in `localCheckpoint`: without
    * it the iterative self-reference doubles logical-plan depth per
    * round (same discipline as [[connectedComponents]]).
    *
    * Determinism: ranks are snapped to the 1e-9 grid after every
    * update, so float summation-order differences (~1e-17) can
    * never accumulate across iterations — any engine replaying the
    * same unrolled arithmetic lands on bit-identical ranks.
    *
    * @param edges0  directed edges, columns `src`, `dst`
    * @param iters   fixed iteration count (unrolled replay friendly)
    * @param damping the damping factor d in r' = (1−d)/n + d·(…)
    * @return (node, rank), Σ rank = 1 up to grid rounding
    */
  def pageRank(edges0: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    val em = degreeEdgeFrame(edges0)
    try pageRankOn(em, iters, damping) finally em.unpersist()
  }

  /** Materialize a directed edge frame into the (src, dst, deg)
    * cache every iterative-rank operator consumes — ONE
    * repartition(src) shuffle: HashPartitioning(src) satisfies the
    * (src,dst) clustering dropDuplicates needs AND the per-iteration
    * join key, so the dedup AND the out-degree groupBy both run
    * in-partition (map-side partial aggregation, no sort — a window
    * over the big side would sort every partition), and the deg join
    * re-attaches on the same partitioning (AQE broadcasts the
    * node-sized degree frame when it is small). No second exchange
    * ever touches the 100 TB side, and every downstream consumer
    * reads this cache, never the caller's edge-building plan (itself
    * a big join at scale).
    *
    * The frame comes back persisted and materialized; the CALLER
    * owns the lifecycle (unpersist when the last consumer is done) —
    * which is exactly what lets several rank operators over the same
    * graph ([[pageRankOn]], [[personalizedPageRankOn]], [[hitsOn]])
    * amortize one build.
    */
  def degreeEdgeFrame(edges0: DataFrame): DataFrame = {
    val base = edges0.select(col("src"), col("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
    val degF = base.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("deg"))
    val em = base.join(degF, Seq("src")).persist()
    em.count()
    em
  }

  /** [[pageRank]] over a pre-materialized [[degreeEdgeFrame]] — the
    * shared-artifact path: the caller amortizes the edge build
    * across several rank operators and owns its persist lifecycle.
    */
  def pageRankOn(em: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val snap = (c: Column) => floor(c * 1e9 + lit(0.5)) / 1e9
    val nodes = em
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .localCheckpoint(true)
    val n = nodes.count().toDouble
    // node-sized frames (ranks, contrib, the dangling set) broadcast
    // into every per-round join when the node set fits the ceiling —
    // each round's edge⋈rank join then runs map-side over the cached
    // edge partitions and only the groupBy(dst) partial-aggregate
    // shuffle remains; past the cap the joins fall back to shuffling
    // the NODE frame to the cached edge partitioning (the 100 TB
    // shape — the big side still never re-shuffles)
    val small = n <= DegreeBroadcastMaxNodes
    // the dangling SET is static across iterations (nodes with no
    // out-edges) — compute it once; only its rank MASS changes per
    // round, a broadcast-semi-join aggregate over the tiny set
    val dang = nodes
      .join(em.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")
      .localCheckpoint(true)
    var ranks = nodes.select(col("node"), snap(lit(1.0) / n).as("rank"))
    try {
      for (_ <- 1 to iters) {
        val contrib = em.join(nodeHint(small)(ranks), em("src") === ranks("node"))
          .groupBy(col("dst"))
          .agg(sum(col("rank") / col("deg")).as("contrib"))
        val dangling = ranks
          .join(nodeHint(small)(dang), Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
        val prevRanks = ranks
        ranks = nodes
          .join(nodeHint(small)(contrib), nodes("node") === contrib("dst"), "left")
          .crossJoin(broadcast(dangling))
          .select(nodes("node"),
            snap(lit((1.0 - damping) / n) +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) + col("dm") / n))
              .as("rank"))
          .localCheckpoint(true)
        dropSupersededCheckpoint(prevRanks)
      }
    }
    ranks
  }

  /** Personalized PageRank (Page/Brin 1998 §6 "personalized"
    * variant; the recommendation/related-items form of [[pageRank]]):
    * the restart distribution concentrates on a SEED set instead of
    * uniform — `r' = (1−d)·p + d·(Aᵀr + dangling·p)` with
    * `p = 1/|S|` on seeds, 0 elsewhere — so rank measures proximity
    * TO the seeds, not global centrality.
    *
    * Identical scale shape to [[pageRank]] (one cached edge
    * partitioning, node-sized rank frame joins TO it, dangling mass
    * as a 1-row broadcast, per-round snap + localCheckpoint); the
    * seed indicator rides the node frame as a broadcast-joined
    * column computed once.
    *
    * @param seeds DataFrame with column `node`
    * @return (node, rank) — Σ rank = 1 up to grid rounding; nodes
    *         unreachable from the seeds sit at exactly 0
    */
  def personalizedPageRank(
      edges0: DataFrame,
      seeds: DataFrame,
      iters: Int,
      damping: Double = 0.85
  ): DataFrame = {
    val em = degreeEdgeFrame(edges0)
    try personalizedPageRankOn(em, seeds, iters, damping) finally em.unpersist()
  }

  /** [[personalizedPageRank]] over a pre-materialized
    * [[degreeEdgeFrame]] (caller-owned persist lifecycle).
    */
  def personalizedPageRankOn(
      em: DataFrame,
      seeds: DataFrame,
      iters: Int,
      damping: Double = 0.85
  ): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val snap = (c: Column) => floor(c * 1e9 + lit(0.5)) / 1e9
    val seedSet = seeds.select(col("node")).distinct().localCheckpoint(true)
    val nS = seedSet.count().toDouble
    require(nS > 0, "need at least one seed node")
    // node frame carries its restart probability p once
    val nodes = em
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .join(seedSet.withColumn("__s", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, snap(lit(1.0 / nS))).otherwise(lit(0.0)).as("p"))
      .localCheckpoint(true)
    val dang = nodes.select(col("node"))
      .join(em.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")
      .localCheckpoint(true)
    // same cost-based node-frame broadcast as [[pageRank]]: under
    // the ceiling every per-round join is map-side over the cached
    // edge partitions
    val small = nodes.count() <= DegreeBroadcastMaxNodes
    var ranks = nodes.select(col("node"), col("p").as("rank"))
    try {
      for (_ <- 1 to iters) {
        val contrib = em.join(nodeHint(small)(ranks), em("src") === ranks("node"))
          .groupBy(col("dst"))
          .agg(sum(col("rank") / col("deg")).as("contrib"))
        val dangling = ranks
          .join(nodeHint(small)(dang), Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
        val prevRanks = ranks
        ranks = nodes
          .join(nodeHint(small)(contrib), nodes("node") === contrib("dst"), "left")
          .crossJoin(broadcast(dangling))
          .select(nodes("node"),
            snap(lit(1.0 - damping) * col("p") +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) + col("dm") * col("p")))
              .as("rank"))
          .localCheckpoint(true)
        dropSupersededCheckpoint(prevRanks)
      }
    }
    ranks
  }

  /** Global [[pageRank]] AND [[personalizedPageRank]] fused into ONE
    * power iteration over the same pre-materialized
    * [[degreeEdgeFrame]]: the two vectors ride the same rank frame
    * as two columns, so every round is ONE edge⋈rank join + ONE
    * contribution aggregate + ONE dangling-mass aggregate instead of
    * two of each — the join count (the per-round cost at any scale)
    * halves when a pipeline wants both global centrality and
    * seed-proximity over one graph.
    *
    * Per-column arithmetic is IDENTICAL to [[pageRankOn]] /
    * [[personalizedPageRankOn]] (same snap points, same uniform vs
    * seeded restart terms), so results are bit-equal to running the
    * two separately — the fusion changes only float SUM ORDER inside
    * each aggregate, which the per-round 1e-9 snap absorbs exactly
    * as it does across partition-count changes.
    *
    * @return (node, rank, pprank) — `rank` the global damped
    *         PageRank, `pprank` the seed-personalized one (0 for
    *         nodes unreachable from the seeds)
    */
  def pageRankWithPersonalizedOn(
      em: DataFrame,
      seeds: DataFrame,
      iters: Int,
      damping: Double = 0.85
  ): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val snap = (c: Column) => floor(c * 1e9 + lit(0.5)) / 1e9
    val seedSet = seeds.select(col("node")).distinct().localCheckpoint(true)
    val nS = seedSet.count().toDouble
    require(nS > 0, "need at least one seed node")
    val nodes = em
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .join(seedSet.withColumn("__s", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, snap(lit(1.0 / nS))).otherwise(lit(0.0)).as("p"))
      .localCheckpoint(true)
    val n = nodes.count().toDouble
    val small = n <= DegreeBroadcastMaxNodes
    val dang = nodes.select(col("node"))
      .join(em.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")
      .localCheckpoint(true)
    var ranks = nodes.select(col("node"),
      snap(lit(1.0) / n).as("rank"), col("p").as("pprank"), col("p"))
    for (_ <- 1 to iters) {
      val contrib = em.join(nodeHint(small)(ranks), em("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("deg")).as("__cg"),
          sum(col("pprank") / col("deg")).as("__cs"))
      val dangling = ranks
        .join(nodeHint(small)(dang), Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dmg"),
          coalesce(sum(col("pprank")), lit(0.0)).as("__dms"))
      val prevRanks = ranks
      ranks = nodes
        .join(nodeHint(small)(contrib), nodes("node") === contrib("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(nodes("node"),
          snap(lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("__cg"), lit(0.0)) + col("__dmg") / n))
            .as("rank"),
          snap(lit(1.0 - damping) * nodes("p") +
            lit(damping) * (coalesce(col("__cs"), lit(0.0)) + col("__dms") * nodes("p")))
            .as("pprank"),
          nodes("p"))
        .localCheckpoint(true)
      dropSupersededCheckpoint(prevRanks)
    }
    ranks.select(col("node"), col("rank"), col("pprank"))
  }

  /** Per-node triangle counts on an undirected graph — the local
    * clustering signal of web/citation-graph curation (spam farms
    * and boilerplate rings are triangle-dense; bridges are
    * triangle-free), companion to [[pageRank]] centrality and
    * [[connectedComponents]] reachability.
    *
    * Degree-ordered orientation (the classic compact-forward /
    * Schank–Wagner scheme, public algorithm): each undirected edge
    * is directed from its lower-(degree, id) endpoint to its higher
    * one, so every node's OUT-degree is bounded by O(√m) on any
    * graph — the wedge self-join then generates Σ outdeg² = O(m^1.5)
    * candidate wedges worst case instead of Σ deg² (which a single
    * hub node makes quadratic). Each triangle forms exactly ONE
    * wedge at its lowest-rank corner and closes against exactly one
    * oriented edge — no multiple counting, no post-dedup.
    *
    * Shuffle budget: edge normalize+distinct (1), degree groupBy
    * (2), two broadcast-scale degree joins, the wedge self-join
    * clustered on the shared `src`, and the close join keyed on the
    * wedge pair — every frame after the first is edge- or
    * wedge-sized, never row-quadratic. Skewed hubs are exactly what
    * the orientation neutralizes.
    *
    * @param edges0 columns `src`, `dst` (same orderable type);
    *               self-loops, duplicates, and reversed copies are
    *               normalized away
    * @return (node, triangles) for every node in ≥ 1 triangle —
    *         union in zero rows if total coverage is needed (same
    *         contract as [[connectedComponents]])
    */
  def triangleCounts(edges0: DataFrame): DataFrame = {
    // the normalized edge frame feeds the degree aggregate AND the
    // orientation joins, and the oriented frame feeds three joins —
    // eager localCheckpoint materializes each ONCE instead of
    // re-running the (possibly expensive) upstream lineage per use
    // (an aggregate-built edge frame like coOccurrenceEdges would
    // otherwise recompute 3-4×; blocks are freed by the
    // ContextCleaner, same discipline as connectedComponents)
    val e = edges0
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    // the degree table is NODE-sized; when it is broadcast-sized the
    // two degree joins go map-side and the edge frame never shuffles
    // before orientation (it is already a materialized checkpoint)
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    triangleCountsCore(e, deg)
  }

  /** [[triangleCounts]] over an already-canonicalized [[SymGraph]] —
    * reuses the materialized distinct edge frame and the degree
    * table (both built once per session for the shared graph) and
    * skips the normalize/distinct shuffle plus both checkpoint
    * materializations entirely.
    */
  def triangleCounts(g: SymGraph): DataFrame =
    triangleCountsCore(
      g.und,
      g.deg.select(col("node").as("n"), col("deg").as("d")))

  private def triangleCountsCore(e: DataFrame, deg: DataFrame): DataFrame = {
    val degB = if (deg.count() <= DegreeBroadcastMaxNodes) broadcast(deg) else deg
    val withDeg = e
      .join(degB.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(degB.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    // orient low-(deg, id) → high-(deg, id); carry the head's rank key
    val lowIsU = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val oriented = withDeg.select(
      when(lowIsU, col("u")).otherwise(col("v")).as("src"),
      when(lowIsU, col("v")).otherwise(col("u")).as("dst"),
      when(lowIsU, col("dv")).otherwise(col("du")).as("ddeg"))
      .localCheckpoint(true)
    // Wedges: projections below the self-join, so the two sides
    // shuffle separately and sort-merge. A single reused exchange
    // ("self") and a shuffle_hash hint on it were measured
    // result-identical and no faster: the struct-compare over the
    // ~82M wedge candidates at sf0.1 dominates every shape, and this
    // one read the lowest CPU (OPTIMIZATION_r16.md §3a, §3b).
    val e1 = oriented.select(col("src"), col("dst").as("b"), col("ddeg").as("db"))
    val e2 = oriented.select(col("src"), col("dst").as("c"), col("ddeg").as("dc"))
    val wedges0 = e1.join(e2, Seq("src"))
      .filter(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
      .select(col("src"), col("b"), col("c"))
    // Close-key representation: when node ids are integral and in
    // [0, 2³¹) — checked against the ACTUAL min/max over the
    // node-sized degree table, one cheap aggregate — pack (b, c)
    // into ONE long (b·2³¹ + c, injective and overflow-free under
    // the bound). A single-long equi-join key lets Spark build its
    // specialized long-keyed hash relation instead of the generic
    // binary-row map: measured 2.8× faster probing 41M wedges
    // against 1.2M edges at sf0.1, and a cheaper shuffle key in the
    // fallback. b/c ride along unpacked — no precision-hazardous
    // decode of a 62-bit product. Non-integral or out-of-range ids
    // keep the two-column key.
    val packable = e.schema("u").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val r = deg.agg(min(col("n")), max(col("n"))).head()
        !r.isNullAt(0) && r.getAs[Number](0).longValue() >= 0L &&
          r.getAs[Number](1).longValue() < (1L << 31)
      case _ => false
    }
    // The close join's left side is the WEDGE frame — O(m^1.5) rows,
    // 34x the edge count on the sf0.1 co-order graph (41M vs 1.2M).
    // Shuffling it dominates the query, while the closing edge list
    // is m rows exactly — so when m is broadcast-sized (known
    // precisely: `oriented` is a materialized checkpoint), hash it
    // to every task and the wedge frame never moves; past the
    // threshold, fall back to the shuffle join (the 100 TB shape,
    // where m itself is too big to ship).
    val small = oriented.count() <= TriangleBroadcastMaxEdges
    // Past the broadcast ceiling the close join must still be a HASH
    // join with the EDGE list as build side: left to its size
    // estimates Spark picks sort-merge here, and sorting the wedge
    // side is sorting O(m^1.5) rows — at 10× the sf0.1 graph (12M
    // edges, ~4·10⁸ wedges) the r12 sf1 sweep measured that plan at
    // 18 minutes of sort spill, vs seconds for a shuffled hash join
    // whose per-task build is only m/shuffle-partitions edge keys.
    // The wedge side streams through the probe unsorted either way.
    val tri =
      if (packable) {
        val pk = lit(1L << 31)
        val closing = oriented
          .select((col("src").cast("long") * pk + col("dst").cast("long")).as("__bc"))
        val closingSide = if (small) broadcast(closing) else closing.hint("shuffle_hash")
        wedges0
          .select(col("src").as("a"), col("b"), col("c"),
            (col("b").cast("long") * pk + col("c").cast("long")).as("__bc"))
          .join(closingSide, Seq("__bc"))
      } else {
        val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
        val closingSide = if (small) broadcast(closing) else closing.hint("shuffle_hash")
        wedges0.select(col("src").as("a"), col("b"), col("c"))
          .join(closingSide, Seq("b", "c"))
      }
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** Edge-count ceiling for broadcasting the triangle close join's
    * edge list (long-keyed relation ≈ 24 B/edge → ≈384 MB hashed at
    * the cap — a deliberate, algorithm-aware step far past Spark's
    * conservative 10 MB autoBroadcast default). The trade is
    * asymmetric: the alternative shuffles the O(m^1.5) WEDGE frame
    * (the r12 sf1 measurement: 12M edges → ~4·10⁸ wedge rows ≈
    * 12 GB exchanged vs a one-shot ~300 MB broadcast shared per
    * executor), so any executor with a few GB of memory prefers the
    * broadcast well past the old 4M cap. Past this cap the
    * shuffled-hash fallback (never sort-merge) is the 100 TB shape.
    *
    * Conf-tunable ([[graft.GraftConf.TriangleBroadcastMaxEdges]]):
    * the default is sized for this build's 128 GiB reference box; a
    * deployment with a small driver heap must lower it (the edge
    * list transits the driver when broadcast).
    */
  private def TriangleBroadcastMaxEdges: Long =
    graft.GraftConf.triangleBroadcastMaxEdges(org.apache.spark.sql.SparkSession.active)

  /** Node-count ceiling for broadcasting a degree table into the
    * edge-frame joins (~24 B/node → ≈100 MB hashed at the cap).
    * Conf-tunable ([[graft.GraftConf.DegreeBroadcastMaxNodes]]).
    */
  private def DegreeBroadcastMaxNodes: Long =
    graft.GraftConf.degreeBroadcastMaxNodes(org.apache.spark.sql.SparkSession.active)

  /** Broadcast-hint a node-sized frame when the owning graph is
    * under [[DegreeBroadcastMaxNodes]]: node-frame ⋈ edge-frame
    * joins then run map-side and the big edge frame never shuffles.
    */
  private def nodeHint(small: Boolean)(df: DataFrame): DataFrame =
    if (small) broadcast(df) else df

  /** Eagerly release the checkpoint blocks behind a SUPERSEDED
    * iteration frame (guide §5: cached data competes with execution
    * memory — unpersist when done). Every iterative operator here
    * ends each round in `localCheckpoint(true)`; without this, a
    * 50-round convergence holds 50 rounds of blocks until the
    * driver's periodic GC lets the ContextCleaner run, and a long
    * multi-query session (the bench; any 100 TB pipeline session)
    * accumulates block-manager pressure that evicts the frames
    * later queries actually reuse. Callers may ONLY pass a frame
    * whose blocks no future plan can touch (the round-N frame after
    * round N+1 has materialized — localCheckpoint truncates lineage,
    * so round N+1 never re-reads round N). Non-checkpoint frames
    * (e.g. a round-0 projection that was never checkpointed) no-op
    * through the match.
    */
  private[operators] def dropSupersededCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Co-occurrence edges: items sharing a group become an undirected
    * edge (market baskets → part pairs, docs → term pairs, sessions
    * → page pairs). The quadratic hazard lives HERE, not in the graph
    * operator downstream: one unbounded group of n items would emit
    * n² pairs before any degree orientation can help. So groups are
    * hard-capped at `maxGroupSize` distinct items — a heavier group
    * contributes NOTHING (its pairs are near-noise co-occurrence at
    * basket scale, and dropping it is the standard frequent-itemset
    * skew guard) and is observable via [[coOccurrenceOverflowReport]].
    *
    * ONE groupBy shuffle: [[graft.functions.PairGenerators.CappedCollectSet]]
    * dedups in-buffer with O(cap) memory per group regardless of the
    * group's row count, and the pair Generator emits each `src < dst`
    * pair from the bucket scan; a final distinct collapses pairs
    * seen in many groups.
    *
    * @param maxGroupSize cap on distinct items per group (pairs per
    *        group bounded by cap·(cap−1)/2)
    * @return (src, dst) with src < dst, one row per co-occurring pair
    */
  def coOccurrenceEdges(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      maxGroupSize: Int = 1000
  ): DataFrame = {
    require(maxGroupSize >= 2, s"maxGroupSize must be >= 2, got $maxGroupSize")
    df.filter(col(groupCol).isNotNull && col(itemCol).isNotNull)
      .select(col(groupCol).as("__g"), col(itemCol).cast("long").as("__i"))
      .groupBy(col("__g"))
      .agg(graft.functions.PairGenerators.cappedCollectSet(col("__i"), maxGroupSize + 1).as("__m"))
      .filter(size(col("__m")) <= maxGroupSize)
      .select(graft.functions.PairGenerators.idPairs(col("__m")).as(Seq("id_a", "id_b")))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .distinct()
  }

  /** Synchronous label propagation communities (Raghavan et al.
    * 2007, public algorithm) — the density-based complement of
    * [[connectedComponents]]: CC answers "what is reachable", LPA
    * answers "what is DENSELY knit" (a bridge edge joins two
    * components into one CC but LPA keeps the two communities).
    *
    * Deterministic synchronous variant (the classic async +
    * random-order formulation is irreproducible by design — wrong
    * for an oracle-gated engine): every node starts labeled with
    * its own id; each round ALL nodes simultaneously adopt their
    * neighborhood's most frequent label, ties to the smallest
    * label. Fixed `iters` rounds, unrolled-replay friendly.
    *
    * Per round: ONE join of the node-sized label frame to the
    * symmetrized edges + THREE map-side-combinable aggregations —
    * groupBy(node, label) count, groupBy(node) max-count, then
    * min(label) among the tied maxima. Every stage partial-aggs, so
    * a 10⁶-degree hub costs one row per shuffle partition, never a
    * single-partition pile-up (the r8 scale probe caught the
    * previous per-node argmax WINDOW doing exactly that: a 5M-degree
    * hub put 5M distinct first-round labels into ONE window
    * partition — fine at bench scale, a straggler at 100 TB).
    * `localCheckpoint` per round bounds plan depth (same discipline
    * as [[connectedComponents]]).
    *
    * @return (node, label) for every edge endpoint; label = the
    *         adopted community representative id
    */
  def labelPropagation(edges0: DataFrame, iters: Int = 3): DataFrame =
    labelPropagation(canonicalize(edges0), iters)

  /** [[labelPropagation]] on a pre-canonicalized [[SymGraph]] — the
    * normalize/symmetrize/checkpoint cost is paid once by the graph
    * build, not per call (q_label_prop shares the frame with the
    * Louvain and scoring queries through SparkEntry's session
    * cache).
    */
  def labelPropagation(g: SymGraph, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = g.e2
    // node-sized label frame: broadcast it into each round's edge
    // join when the graph is under the node ceiling, so the
    // symmetric edge frame never shuffles (one cheap count over the
    // checkpointed degree frame decides)
    val nb = nodeHint(g.deg.count() <= DegreeBroadcastMaxNodes) _
    // ROUND 1 SPECIALIZED (the louvainMoves round-1 trick): labels
    // start as identities, so each neighbor contributes its own id
    // exactly once (e2 is distinct) — every label ties at count 1
    // and most-frequent-tie-min degenerates to min(neighbor id).
    // One map-side-combinable agg replaces the label join + the
    // (src, label) count + the argmax: strictly a subset of the
    // generic round's work, bit-identical output by construction.
    var labels = e.groupBy(col("src"))
      .agg(min(col("dst")).as("label"))
      .withColumnRenamed("src", "node")
      .localCheckpoint(true)
    var it = 1
    while (it < iters) {
      // argmax fused into ONE aggregation: minimizing (-cnt, label)
      // IS max-count-tie-min-label, and the key is unique per
      // (src, label) row so min_by is deterministic — replaces the
      // max + join-back + filter + min re-aggregation (two extra
      // shuffles and a recompute) the unfused form paid per round
      val prevLabels = labels
      labels = e.join(nb(labels.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(col("src"))
        .agg(min_by(col("label"),
          struct((-col("__cnt")).as("nc"), col("label").as("lb"))).as("label"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(true)
      dropSupersededCheckpoint(prevLabels)
      it += 1
    }
    labels
  }

  /** Synchronous modularity-greedy community moves — the Louvain
    * local-move phase (Blondel et al. 2008) determinized for exact
    * replay: every node simultaneously evaluates moving to each
    * NEIGHBORING community and takes the one maximizing the
    * modularity gain, ties to the smallest community label. The
    * gain comparison runs on EXACT INTEGERS — for candidate
    * community C, score(i→C) = 2m·k_{i,C} − deg_i·vol'_C (vol'
    * excludes i's own degree when C is i's community), which orders
    * candidates identically to ΔQ without a single float — so the
    * rounds are bit-replayable in any engine (the q_label_prop
    * unrolled-oracle discipline). Produces strictly-better-
    * modularity communities than frequency-vote LPA on weightless
    * graphs because the degree product penalizes hub-attachment.
    *
    * Scale shape per round: one labels·deg groupBy (community
    * volumes, community-sized), one edge-frame join + groupBy(src,
    * community) for the k_{i,C} counts (the LPA shuffle), then the
    * max+filter+min argmax — all map-side-combinable aggs, no
    * windows; `localCheckpoint` ends each round (the iterative-
    * graph plan-depth discipline). Synchronous rounds are fixed and
    * deterministic; oscillation is bounded by the round count, the
    * standard synchronous-variant trade.
    *
    * @return (node, community) for every non-isolated node
    */
  def louvainMoves(edges0: DataFrame, rounds: Int = 2): DataFrame =
    louvainMoves(canonicalize(edges0), rounds)

  /** [[louvainMoves]] on a pre-canonicalized [[SymGraph]]. */
  def louvainMoves(g: SymGraph, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    weightedMoveRounds(g.e2.withColumn("__w", lit(1L)), g.deg, g.m, rounds)
  }

  /** The synchronous weighted local-move rounds shared by the
    * node-level and the CONTRACTED (super-node) Louvain phases.
    * Exact-integer scoring as in [[louvainMoves]], generalized to
    * integer edge weights: score(i→C) = 2m·k_{i,C} − K_i·vol'_C
    * with k summed over edge weights and K_i the weighted degree.
    * A node whose every neighbor vanished into its own super-node
    * (no external edges → no candidate rows) KEEPS its community
    * via the left-join coalesce — at the node level every vertex
    * has candidates, so this is behavior-identical to the
    * pre-refactor rounds there.
    */
  private def weightedMoveRounds(
      e2w: DataFrame, deg: DataFrame, m: Long, rounds: Int): DataFrame = {
    val nb = nodeHint(deg.count() <= DegreeBroadcastMaxNodes) _
    var labels = deg.select(col("node"), col("node").as("community"))
    var it = 0
    if (rounds > 0) {
      // ROUND 1 SPECIALIZED: with identity labels every neighboring
      // community is a single node, so k_{i,C} ≡ __w per edge — the
      // label join and the (src, community) re-aggregation vanish;
      // score(i→{j}) = 2m·w_ij − deg_i·deg_j straight off the edge
      // frame. Bit-identical to the generic round (same integers,
      // same argmax), at roughly half its shuffle cost.
      val cand0 = e2w
        .join(nb(deg.select(col("node").as("src"), col("deg").as("__d"))), "src")
        .join(nb(deg.select(col("node").as("dst"), col("deg").as("__vol"))), "dst")
        .withColumn("__score",
          lit(2L) * lit(m) * col("__w") - col("__d") * col("__vol"))
      // fused argmax: min over (-score, dst) IS max-score-tie-min-dst,
      // one aggregation instead of max + join-back + filter + min
      labels = cand0
        .groupBy(col("src"))
        .agg(min_by(col("dst"),
          struct((-col("__score")).as("ns"), col("dst").as("d"))).as("community"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(true)
      it = 1
    }
    while (it < rounds) {
      val vol = labels.join(deg, "node")
        .groupBy(col("community")).agg(sum(col("deg")).as("__vol"))
      val k = e2w.join(nb(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("community", "__c")), "dst")
        .groupBy(col("src"), col("__c")).agg(sum(col("__w")).as("__k"))
      val cand = k
        .join(nb(labels.select(col("node").as("src"), col("community").as("__own"))), "src")
        .join(nb(deg.select(col("node").as("src"), col("deg").as("__d"))), "src")
        .join(nb(vol.withColumnRenamed("community", "__c")), "__c")
        .withColumn("__score",
          lit(2L) * lit(m) * col("__k") -
            col("__d") * (col("__vol") -
              when(col("__c") === col("__own"), col("__d")).otherwise(lit(0L))))
      val moved = cand
        .groupBy(col("src"))
        .agg(min_by(col("__c"),
          struct((-col("__score")).as("ns"), col("__c").as("c"))).as("__new"))
        .withColumnRenamed("src", "node")
      val prevLabels = labels
      labels = labels.join(moved, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__new"), col("community")).as("community"))
        .localCheckpoint(true)
      dropSupersededCheckpoint(prevLabels)
      it += 1
    }
    labels
  }

  /** The CONTRACTED-level move rounds: like [[weightedMoveRounds]]
    * but oscillation-PROOF. Purely synchronous moves swap symmetric
    * super-node pairs forever (two cliques joined by a bridge trade
    * places every round — the K4 counter-example in LouvainSpec).
    * Here a super-node may move only DOWNWARD — to a neighboring
    * community with a SMALLER label — and only when the move's
    * exact-integer score strictly beats the score of staying put.
    * Labels therefore strictly decrease on every move: two-cycles
    * are impossible and the rounds converge, while mass still
    * merges freely (if C's best partner has a bigger label, the
    * partner makes the symmetric downward move instead). Both gates
    * are deterministic integer predicates, so the rounds replay in
    * SQL.
    */
  private def contractedMoveRounds(
      e2w: DataFrame, deg: DataFrame, m: Long, rounds: Int): DataFrame =
    contractedMoveRounds(e2w, deg, m, rounds, alternate = false,
      uniquePairsNoSelf = false)

  /** @param alternate gate movers per round on node-hash parity
    *   (xxhash64(node) % 2 == round % 2). The plain downward rule is
    *   oscillation-proof but SLIDES on cyclically label-ordered
    *   structures: on a ring every super-node's smaller neighbor is
    *   itself moving, so synchronous rounds rotate labels instead of
    *   merging (found by the r11 scale probe: a 100k-clique ring
    *   merged ~20 communities in 4 rounds). With parity alternation
    *   ~half the nodes stand still each round and absorb their
    *   moving neighbors — real merges form while determinism and
    *   downward monotonicity (hence convergence) are preserved.
    *   Used by the stacked [[louvainLevels]] rounds; the level-1
    *   path keeps the plain rule its SQL oracle unrolls.
    */
  /** @param uniquePairsNoSelf caller ASSERTS e2w holds exactly one
    *   row per (src, dst) pair and no self-loops (true for the
    *   `groupBy(src, dst)`-folded [[contractAndRefine]] superEdges).
    *   Under that shape round 1 runs the identity-label
    *   specialization below; the generic rounds are unaffected.
    */
  private def contractedMoveRounds(
      e2w: DataFrame, deg: DataFrame, m: Long, rounds: Int,
      alternate: Boolean, uniquePairsNoSelf: Boolean = false): DataFrame = {
    var labels = deg.select(col("node"), col("node").as("community"))
    var it = 0
    if (rounds > 0 && uniquePairsNoSelf) {
      // ROUND 1 SPECIALIZED (the weightedMoveRounds round-1 trick,
      // extended to the downward-move rule): labels start as
      // identities, so for each unique (src, dst) row the neighbor
      // community IS dst, k_{i,{dst}} IS __w, the target volume IS
      // deg(dst), the downward gate __c < __own IS dst < src, and
      // the staying score is exactly 0 (own-community k is the self
      // weight — none exist — and vol − deg vanishes under
      // identities). The generic round's label join, the vol and k
      // aggregations, and the ownScore join chain collapse into two
      // node-sized degree joins + one fused argmax — bit-identical
      // integers, same min_by tie order.
      val cand0 = e2w.filter(col("dst") < col("src"))
        .join(deg.select(col("node").as("src"), col("deg").as("__d")), "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("__vol")), "dst")
        .withColumn("__score",
          lit(2L) * lit(m) * col("__w") - col("__d") * col("__vol"))
      val moved0 = cand0
        .groupBy(col("src"))
        .agg(min_by(col("dst"),
          struct((-col("__score")).as("ns"), col("dst").as("c"))).as("__new"),
          max(col("__score")).as("__bs"))
        .withColumnRenamed("src", "node")
      val mayMove0 =
        if (alternate) pmod(xxhash64(col("node")), lit(2)) === lit(0)
        else lit(true)
      labels = labels
        .join(moved0, Seq("node"), "left")
        .select(col("node"),
          when(mayMove0 && col("__bs").isNotNull && col("__bs") > lit(0L),
            col("__new")).otherwise(col("community")).as("community"))
        .localCheckpoint(true)
      it = 1
    }
    while (it < rounds) {
      val vol = labels.join(deg, "node")
        .groupBy(col("community")).agg(sum(col("deg")).as("__vol"))
      val k = e2w.join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("community", "__c"), "dst")
        .groupBy(col("src"), col("__c")).agg(sum(col("__w")).as("__k"))
      val cand = k
        .join(labels.select(col("node").as("src"), col("community").as("__own")), "src")
        .filter(col("__c") < col("__own")) // downward moves only
        .join(deg.select(col("node").as("src"), col("deg").as("__d")), "src")
        .join(vol.withColumnRenamed("community", "__c"), "__c")
        .withColumn("__score",
          lit(2L) * lit(m) * col("__k") - col("__d") * col("__vol"))
      val moved = cand
        .groupBy(col("src"))
        .agg(min_by(col("__c"),
          struct((-col("__score")).as("ns"), col("__c").as("c"))).as("__new"),
          max(col("__score")).as("__bs"))
        .withColumnRenamed("src", "node")
      // exact score of STAYING: own community's k (0 when no
      // neighbor is inside) with own volume net of self
      val ownScore = labels
        .join(deg, "node")
        .join(vol, "community")
        .join(k, col("node") === col("src") && col("__c") === col("community"), "left_outer")
        .select(col("node"),
          (lit(2L) * lit(m) * coalesce(col("__k"), lit(0L)) -
            col("deg") * (col("__vol") - col("deg"))).as("__os"))
      val mayMove =
        if (alternate) pmod(xxhash64(col("node")), lit(2)) === lit(it % 2)
        else lit(true)
      val prevLabels = labels
      labels = labels
        .join(moved, Seq("node"), "left")
        .join(ownScore, "node")
        .select(col("node"),
          when(mayMove && col("__bs").isNotNull && col("__bs") > col("__os"),
            col("__new")).otherwise(col("community")).as("community"))
        .localCheckpoint(true)
      dropSupersededCheckpoint(prevLabels)
      it += 1
    }
    labels
  }

  /** The artifacts of one full Louvain level: final node labels plus
    * the CONTRACTED graph they were refined on — kept so downstream
    * scoring (modularity) can run on the community-sized frames
    * instead of re-joining the node-sized ones.
    *
    * @param labels      (node, community) — final, node-level
    * @param superEdges  (src, dst, __w) symmetric cross-community
    *                    weights of the level-0 partition
    * @param superSelf   (community, e_in) internal edge counts of the
    *                    level-0 partition
    * @param superDeg    (node=superNode, deg) weighted super-degrees
    *                    (= level-0 community volumes)
    * @param superLabels (node=superNode, community=final) the level-1
    *                    refinement
    * @param m           undirected edge count of the ORIGINAL graph
    */
  case class LouvainResult(
      labels: DataFrame,
      superEdges: DataFrame,
      superSelf: DataFrame,
      superDeg: DataFrame,
      superLabels: DataFrame,
      m: Long)

  /** Louvain with ONE level of contraction — the real algorithm's
    * phase 2 (Blondel et al. 2008 §2), not just local moves: after
    * `level0Rounds` node-level sweeps, communities collapse to
    * super-nodes (cross weights = inter-community edge counts,
    * volumes preserved), `level1Rounds` weighted sweeps refine the
    * contracted graph — community-sized, typically orders of
    * magnitude smaller — and the refinement maps back through the
    * level-0 assignment. This climbs past the single-level
    * modularity plateau at a fraction of the node-level round cost:
    * at 100 TB the expensive node-frame join runs `level0Rounds`
    * times instead of `level0Rounds + level1Rounds`.
    *
    * Every aggregate stays exact-integer (weights are edge counts),
    * so the whole two-level pipeline replays bit-identically in SQL
    * — the q_louvain oracle unrolls both levels.
    */
  def louvain(
      edges0: DataFrame,
      level0Rounds: Int = 1,
      level1Rounds: Int = 4): LouvainResult =
    louvain(canonicalize(edges0), level0Rounds, level1Rounds)

  /** [[louvain]] on a pre-canonicalized [[SymGraph]]. */
  def louvain(g: SymGraph, level0Rounds: Int, level1Rounds: Int): LouvainResult = {
    require(level0Rounds >= 1 && level1Rounds >= 0,
      s"need level0Rounds >= 1 and level1Rounds >= 0, got $level0Rounds/$level1Rounds")
    val l0 = weightedMoveRounds(g.e2.withColumn("__w", lit(1L)), g.deg, g.m, level0Rounds)
    contractAndRefine(g, l0, level1Rounds)
  }

  /** Louvain phase 2 on an EXTERNAL seeding: contract an arbitrary
    * (node, community) partition — LPA labels, a blocking key, a
    * prior run — and refine it with the guarded exact-integer merge
    * rounds. Useful both as the Leiden-style "seed with a cheap
    * community pass, climb with modularity" hybrid (LPA-seeded
    * refinement measurably out-scores pure local-move seeding on
    * weak-structure graphs) and to resume from persisted labels.
    * Seed labels must cover the graph's non-isolated nodes; extra
    * rows are ignored.
    */
  def louvainRefine(
      edges0: DataFrame,
      seed: DataFrame,
      level1Rounds: Int = 4,
      nodeCol: String = "node",
      labelCol: String = "community"): LouvainResult =
    louvainRefine(canonicalize(edges0), seed, level1Rounds, nodeCol, labelCol)

  /** [[louvainRefine]] on a pre-canonicalized [[SymGraph]]. */
  def louvainRefine(
      g: SymGraph,
      seed: DataFrame,
      level1Rounds: Int,
      nodeCol: String,
      labelCol: String): LouvainResult = {
    require(level1Rounds >= 0, s"need level1Rounds >= 0, got $level1Rounds")
    val l0 = seed.select(col(nodeCol).as("node"), col(labelCol).as("community"))
    contractAndRefine(g, l0, level1Rounds)
  }

  /** A graph canonicalized ONCE for the whole iterative family:
    * `und` the distinct undirected (u &lt; v) edge set, `e2` its
    * symmetric both-directions expansion, `deg` the node degrees,
    * `m` the undirected edge count — all checkpointed, so every
    * consumer (LPA rounds, Louvain sweeps, contraction, scoring)
    * starts from materialized frames instead of re-shuffling the
    * normalize-distinct-symmetrize pipeline per query. At 100 TB
    * this is the difference between one edge-frame shuffle for the
    * family and one per query.
    */
  case class SymGraph(und: DataFrame, e2: DataFrame, deg: DataFrame, m: Long)

  /** Build a [[SymGraph]] from a raw edge frame (self-loops dropped,
    * duplicates collapsed, both orientations accepted).
    */
  def canonicalize(edges0: DataFrame): SymGraph =
    canonicalFrom(edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint(true))

  /** [[canonicalize]] for a frame the CALLER asserts is already
    * distinct undirected with src &lt; dst and no self-loops (e.g.
    * [[coOccurrenceEdges]] output, typically persisted) — skips the
    * normalize shuffle and the extra materialization entirely.
    */
  def canonicalizeDistinct(und0: DataFrame): SymGraph =
    canonicalFrom(und0.select(col("src").as("u"), col("dst").as("v")))

  private def canonicalFrom(und: DataFrame): SymGraph = {
    val m = und.count()
    val e2 = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
    val deg = e2.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    SymGraph(und, e2, deg, m)
  }

  private def contractAndRefine(
      g: SymGraph,
      l0: DataFrame, level1Rounds: Int): LouvainResult = {
    val (deg, m) = (g.deg, g.m)
    // Contraction over the UNDIRECTED frame — half the join volume
    // of mapping the symmetric expansion: each und edge maps its two
    // endpoints' communities (two node-sized hash joins over |und|
    // rows), folds straight to community-pair counts in ONE shuffle
    // with map-side combine, and the tiny folded frame symmetrizes
    // after the fold.
    val nb = nodeHint(g.deg.count() <= DegreeBroadcastMaxNodes) _
    val foldedU = g.und
      .join(nb(l0.select(col("node").as("u"), col("community").as("__cu"))), "u")
      .join(nb(l0.select(col("node").as("v"), col("community").as("__cv"))), "v")
      .groupBy(col("__cu"), col("__cv")).agg(count(lit(1)).as("__w"))
      .localCheckpoint(true)
    val cross = foldedU.filter(col("__cu") =!= col("__cv"))
    val superEdges = cross
      .select(col("__cu").as("src"), col("__cv").as("dst"), col("__w"))
      .union(cross.select(col("__cv").as("src"), col("__cu").as("dst"), col("__w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("__w"))
      .localCheckpoint(true)
    // und counts every internal edge exactly once
    val superSelf = foldedU.filter(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("community")).agg(sum(col("__w")).as("e_in"))
    val superDeg = l0.join(deg, "node")
      .groupBy(col("community").as("node")).agg(sum(col("deg")).as("deg"))
      .localCheckpoint(true)
    val superLabels =
      if (level1Rounds == 0) superDeg.select(col("node"), col("node").as("community"))
      else contractedMoveRounds(superEdges, superDeg, m, level1Rounds,
        alternate = false, uniquePairsNoSelf = true)
    val labels = l0.select(col("node"), col("community").as("__c0"))
      .join(superLabels.select(col("node").as("__c0"), col("community")), "__c0")
      .select(col("node"), col("community"))
      .localCheckpoint(true)
    LouvainResult(labels, superEdges, superSelf, superDeg, superLabels, m)
  }

  /** Contract an already-WEIGHTED super graph by a refinement of its
    * nodes — the generalization of the level-0→1 contraction in
    * [[contractAndRefine]] that [[louvainLevels]] loops: cross
    * weights fold by final community pair (the symmetric frame folds
    * symmetric), internal weight = members' e_in + intra cross / 2
    * (exact: every undirected intra pair appears twice in the
    * symmetric frame), degrees fold by sum. All exact integers.
    */
  /** Checkpoint + drop inherited size stats — the level-boundary
    * discipline of [[louvainLevels]]: stacking contraction levels
    * compounds checkpoint-inherited join-size estimates until the
    * driver spins in BigInteger stats arithmetic (see
    * [[org.apache.spark.sql.graftbridge.ColumnBridge.dropInheritedStats]]).
    */
  private def freshCheckpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.ColumnBridge
      .dropInheritedStats(df.localCheckpoint(true))

  /** Deterministic propose-accept community matching for the stacked
    * [[louvainLevels]] rounds — the coarsening dynamic of parallel
    * Louvain/multilevel-partitioner variants (pairwise community
    * merges by exact modularity gain), replacing per-node moves at
    * levels where every node already IS a community:
    *
    *   - merge gain of adjacent communities C, D is the exact integer
    *     `2m·w_CD − vol_C·vol_D` (ΔQ·2m², always exact);
    *   - each PROPOSER community (node-hash parity == round parity)
    *     proposes to its best positive-gain neighbor of the opposite
    *     parity (ties to the smallest label);
    *   - each target accepts its single best proposer (ties smallest);
    *   - accepted pairs merge to the pair's smaller label.
    *
    * Merges are pairwise-DISJOINT (a proposer proposes once; a target
    * accepts once; parities make the sets disjoint), so the level's
    * total gain is the exact sum of positive per-merge gains —
    * modularity strictly increases whenever any merge executes, with
    * no oscillation possible (merging is irreversible within the
    * level). Unlike the downward-move rule this does not cap merge
    * growth on cyclically-labeled structures: groups double per few
    * rounds until the gain goes negative — measured on the r12 ring
    * probe (5k K3-cliques): Q 0.9419 (downward moves, any maxLevels)
    * → 0.9850 vs 0.9857 for the analytic optimum.
    */
  private def matchingMergeRounds(
      e2w: DataFrame, deg: DataFrame, m: Long, rounds: Int): DataFrame = {
    var labels = deg.select(col("node"), col("node").as("community"))
    var it = 0
    while (it < rounds) {
      val vol = labels.join(deg, "node")
        .groupBy(col("community")).agg(sum(col("deg")).as("__vol"))
      val cw = e2w
        .join(labels.select(col("node").as("src"), col("community").as("__cs")), "src")
        .join(labels.select(col("node").as("dst"), col("community").as("__cd")), "dst")
        .filter(col("__cs") =!= col("__cd"))
        .groupBy(col("__cs"), col("__cd")).agg(sum(col("__w")).as("__wcd"))
      val scored = cw
        .join(vol.select(col("community").as("__cs"), col("__vol").as("__vs")), "__cs")
        .join(vol.select(col("community").as("__cd"), col("__vol").as("__vd")), "__cd")
        .withColumn("__gain", lit(2L) * lit(m) * col("__wcd") - col("__vs") * col("__vd"))
        .filter(col("__gain") > 0)
        .filter(pmod(xxhash64(col("__cs")), lit(2)) === lit(it % 2) &&
          pmod(xxhash64(col("__cd")), lit(2)) =!= lit(it % 2))
      val proposals = scored
        .groupBy(col("__cs"))
        .agg(min_by(col("__cd"),
          struct((-col("__gain")).as("ng"), col("__cd").as("d"))).as("__to"),
          max(col("__gain")).as("__g"))
      val accepted = proposals
        .groupBy(col("__to"))
        .agg(min_by(col("__cs"),
          struct((-col("__g")).as("ng"), col("__cs").as("c"))).as("__from"))
      val relabel = accepted
        .select(col("__from").as("community"), least(col("__from"), col("__to")).as("__new"))
        .union(accepted
          .select(col("__to").as("community"), least(col("__from"), col("__to")).as("__new")))
      val prevLabels = labels
      labels = labels.join(relabel, Seq("community"), "left")
        .select(col("node"), coalesce(col("__new"), col("community")).as("community"))
        .localCheckpoint(true)
      dropSupersededCheckpoint(prevLabels)
      it += 1
    }
    labels
  }

  private def contractWeighted(
      superEdges: DataFrame,
      superSelf: DataFrame,
      superDeg: DataFrame,
      labels: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val l = labels.select(col("node"), col("community"))
    val folded = freshCheckpoint(superEdges
      .join(l.select(col("node").as("src"), col("community").as("__fu")), "src")
      .join(l.select(col("node").as("dst"), col("community").as("__fv")), "dst")
      .groupBy(col("__fu"), col("__fv")).agg(sum(col("__w")).as("__w")))
    val e2 = folded.filter(col("__fu") =!= col("__fv"))
      .select(col("__fu").as("src"), col("__fv").as("dst"), col("__w"))
    val selfOld = superSelf.select(col("community").as("node"), col("e_in"))
      .join(l, "node")
      .groupBy(col("community")).agg(sum(col("e_in")).as("__s1"))
    val selfIntra = folded.filter(col("__fu") === col("__fv"))
      .groupBy(col("__fu").as("community"))
      .agg((sum(col("__w")) / lit(2)).cast("long").as("__s2"))
    val self2 = freshCheckpoint(selfOld
      .join(selfIntra, Seq("community"), "full_outer")
      .select(col("community"),
        (coalesce(col("__s1"), lit(0L)) + coalesce(col("__s2"), lit(0L))).as("e_in")))
    val deg2 = freshCheckpoint(superDeg.join(l, "node")
      .groupBy(col("community").as("node")).agg(sum(col("deg")).as("deg")))
    (e2, self2, deg2)
  }

  /** Total snapped modularity of a [[LouvainResult]] — the
    * [[modularityOfLouvain]] contributions summed to one double;
    * the level-acceptance gate of [[louvainLevels]].
    */
  def modularityTotal(r: LouvainResult): Double =
    modularityOfLouvain(r).agg(sum(col("q_contrib")))
      .collect().headOption.flatMap(row => Option(row.get(0)))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)

  /** FULL multi-level Louvain (Blondel et al. 2008 §2, the
    * loop-until-no-gain form): seed the node-level partition, run
    * one contraction + guarded refine ([[louvainRefine]]), then keep
    * contracting the SUPER graph by its own refinement and refining
    * again while total modularity strictly improves by more than
    * `minGain` (bounded by `maxLevels` — each level's frames are
    * community-sized, so iteration cost shrinks geometrically on
    * real hierarchies). Every contraction stays exact-integer; the
    * gate compares the 1e-9-snapped totals, so acceptance is
    * deterministic and replayable.
    *
    * Level count is data-adaptive: hierarchical community structure
    * (cliques inside modules inside super-modules) climbs one level
    * per tier; a flat graph stops after the first contraction —
    * exactly the published algorithm's termination rule, with the
    * one-level [[louvainRefine]] as the degenerate case.
    *
    * @return the LAST ACCEPTED level's [[LouvainResult]]: `labels`
    *         maps original nodes to final communities through every
    *         level; the super frames are that level's contraction,
    *         so [[modularityOfLouvain]] scores it directly
    */
  def louvainLevels(
      g: SymGraph,
      seed: DataFrame,
      roundsPerLevel: Int = 4,
      maxLevels: Int = 5,
      minGain: Double = 0.0,
      nodeCol: String = "node",
      labelCol: String = "community"): LouvainResult = {
    require(maxLevels >= 1, s"maxLevels must be >= 1, got $maxLevels")
    require(minGain >= 0.0, s"minGain must be >= 0, got $minGain")
    var r = louvainRefine(g, seed, roundsPerLevel, nodeCol, labelCol)
    var q = modularityTotal(r)
    var lvl = 1
    var improving = true
    while (lvl < maxLevels && improving) {
      val (e2, self2, deg2) =
        contractWeighted(r.superEdges, r.superSelf, r.superDeg, r.superLabels)
      // level boundary: the move rounds' internal checkpoints are
      // bounded (roundsPerLevel), but their OUTPUT must not carry
      // the compounded size estimate into the next level's joins
      // stacked levels merge by propose-accept matching (see
      // matchingMergeRounds): provably monotone disjoint merges
      // replace the downward-move rule that capped ring-shaped
      // merging at tiny groups (r12 probe: Q 0.942 → 0.985)
      val labels2 = org.apache.spark.sql.graftbridge.ColumnBridge
        .dropInheritedStats(
          matchingMergeRounds(e2, deg2, r.m, roundsPerLevel))
      val cand = LouvainResult(
        labels = freshCheckpoint(
          r.labels.select(col("node"), col("community").as("__p"))
            .join(labels2.select(col("node").as("__p"), col("community")), "__p")
            .select(col("node"), col("community"))),
        superEdges = e2, superSelf = self2, superDeg = deg2,
        superLabels = labels2, m = r.m)
      val q2 = modularityTotal(cand)
      if (q2 > q + minGain) { r = cand; q = q2; lvl += 1 }
      else improving = false
    }
    r
  }

  /** [[louvainLevels]] from a raw edge frame, seeded by one
    * specialized node-level local-move round (the [[louvain]]
    * default seeding).
    */
  def louvainLevels(
      edges0: DataFrame,
      roundsPerLevel: Int,
      maxLevels: Int): LouvainResult = {
    val g = canonicalize(edges0)
    val l0 = weightedMoveRounds(g.e2.withColumn("__w", lit(1L)), g.deg, g.m, 1)
    louvainLevels(g, l0, roundsPerLevel, maxLevels)
  }

  /** Newman modularity of a [[louvain]] partition computed FROM THE
    * CONTRACTION — e_in and deg_sum per final community aggregate
    * the community-sized super frames (internal self-weights + intra
    * cross weights / 2; super-degree sums), never re-touching the
    * node- or edge-sized frames. Identical exact integers to scoring
    * the node-level labels with [[modularity]], at contracted cost.
    *
    * @return (community, e_in, deg_sum, q_contrib) — q snapped to
    *         the 1e-9 grid like [[modularity]]
    */
  def modularityOfLouvain(r: LouvainResult): DataFrame = {
    val sl = r.superLabels.select(col("node").as("__s"), col("community").as("__f"))
    val selfIn = r.superSelf.select(col("community").as("__s"), col("e_in"))
      .join(sl, "__s")
      .groupBy(col("__f")).agg(sum(col("e_in")).as("__in1"))
    val crossIn = r.superEdges
      .join(sl.select(col("__s").as("src"), col("__f").as("__fu")), "src")
      .join(sl.select(col("__s").as("dst"), col("__f").as("__fv")), "dst")
      .filter(col("__fu") === col("__fv"))
      .groupBy(col("__fu").as("__f"))
      .agg((sum(col("__w")) / lit(2)).cast("long").as("__in2"))
    val degC = r.superDeg.select(col("node").as("__s"), col("deg"))
      .join(sl, "__s")
      .groupBy(col("__f")).agg(sum(col("deg")).as("deg_sum"))
    degC
      .join(selfIn, Seq("__f"), "left")
      .join(crossIn, Seq("__f"), "left")
      .withColumn("e_in",
        coalesce(col("__in1"), lit(0L)) + coalesce(col("__in2"), lit(0L)))
      .withColumn("__d2", col("deg_sum").cast("double") / (lit(2.0) * lit(r.m)))
      .select(col("__f").as("community"), col("e_in"), col("deg_sum"),
        (floor((col("e_in").cast("double") / lit(r.m.toDouble) - col("__d2") * col("__d2")) *
          lit(1e9) + lit(0.5)) / lit(1e9)).as("q_contrib"))
  }

  /** Multi-source BFS: minimum hop count from any source to every
    * reachable node within `maxHops` — the reachability/egonet
    * primitive (contamination spread from flagged docs, link
    * distance from seed hosts).
    *
    * Frontier form: round h joins the CURRENT frontier (nodes first
    * reached at h−1) to the edges and anti-joins the settled set —
    * each node is expanded exactly once ever (total work O(edges
    * within the horizon), not O(edges·rounds)), and a drained
    * frontier stops early. Settled/frontier frames localCheckpoint
    * per round.
    *
    * @param sources DataFrame with column `node`
    * @return (node, hops) for every node within maxHops of a source
    *         (sources themselves at 0)
    */
  def shortestHops(edges0: DataFrame, sources: DataFrame, maxHops: Int = 6): DataFrame = {
    val und = edges0.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val e = und
      .union(und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    shortestHopsOn(e, e.count(), sources, maxHops)
  }

  /** [[shortestHops]] over an already-canonicalized [[SymGraph]] —
    * the session-shared symmetrized edge frame (`e2`) is exactly the
    * expansion frame the frontier loop needs; skips the
    * symmetrize/distinct shuffle and its materialization.
    */
  def shortestHops(g: SymGraph, sources: DataFrame, maxHops: Int): DataFrame =
    shortestHopsOn(g.e2, 2 * g.m, sources, maxHops)

  private def shortestHopsOn(
      e: DataFrame,
      dirEdgeCount: Long,
      sources: DataFrame,
      maxHops: Int
  ): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // frontier/settled are node-sized (≤ 2·edges); under the edge
    // ceiling they broadcast into the expansion join and the settled
    // anti-join, so the materialized edge frame never shuffles —
    // past it, both fall back to shuffle joins (the 100 TB shape)
    val small = dirEdgeCount <= 2 * DegreeBroadcastMaxNodes
    var settled = sources.select(col("node")).distinct()
      .withColumn("hops", lit(0)).localCheckpoint(true)
    var frontier = settled.select(col("node"))
    // round h-1's frontier checkpoint, dead once round h's expansion
    // has materialized (settled already folded its rows in)
    var prevFrontierCp: DataFrame = null
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = e.join(nodeHint(small)(frontier.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(nodeHint(small)(settled), Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint(true)
      val prevSettled = settled
      settled = settled.union(next).localCheckpoint(true)
      dropSupersededCheckpoint(prevSettled)
      if (prevFrontierCp != null) dropSupersededCheckpoint(prevFrontierCp)
      prevFrontierCp = next
      frontier = next.select(col("node"))
      h += 1
    }
    settled
  }

  /** Link prediction scores for 2-hop candidate pairs (Liben-Nowell
    * & Kleinberg 2003, public formulation): common-neighbor count
    * and Adamic–Adar `Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z)` for every
    * non-adjacent pair sharing ≥ 1 neighbor — the "which edges come
    * next" primitive (recommendations, related-docs, graph
    * completion).
    *
    * Shape: wedges generate from the symmetrized edge set joined on
    * the middle node (cost Σ deg(z)² — the price every
    * link-prediction formulation pays), then ONE
    * map-side-combinable groupBy(pair). Super-hub middles are
    * excluded by `maxDegree` BEFORE wedge generation — the standard
    * guard, and statistically near-free: a 10⁶-degree hub
    * contributes 1/ln(10⁶) ≈ 0.07 per pair while costing 10¹²
    * wedges. Existing edges anti-join out.
    *
    * @return (node_a, node_b, common_neighbors, adamic_adar) with
    *         node_a < node_b, adamic_adar on the 1e-9 grid
    */
  def linkPrediction(edges0: DataFrame, maxDegree: Int = 10000): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    // und feeds the symmetric expansion (twice) AND the final
    // anti-join; an aggregate-built edge frame (coOccurrenceEdges —
    // a join + capped collect at q_link_pred) would replay per use:
    // the r16 plan audit counted the capped-collect subtree executed
    // 4x. Materializing und and deg won in every round of a same-JVM
    // alternation (wall 1.74-2.17 s vs 2.07-2.62 s recomputed,
    // OPTIMIZATION_r16.md §3) — the replayed capped-collect here is
    // genuinely expensive, unlike MiningOps' cheap distinct.
    val und = edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint(true)
    val sym = und.select(col("u").as("a"), col("v").as("z"))
      .union(und.select(col("v").as("a"), col("u").as("z")))
    val deg = sym.groupBy(col("z")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDegree && col("deg") >= 2)
      .localCheckpoint(true)
    val spokes = sym.join(deg, "z")
    val wedges = spokes.select(col("z"), col("a"), col("deg"))
      .join(spokes.select(col("z"), col("a").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
    val scored = wedges.groupBy(col("a"), col("b"))
      .agg(
        count(lit(1)).as("common_neighbors"),
        (floor(sum(lit(1.0) / log(col("deg").cast("double"))) * lit(1e9) + lit(0.5)) / lit(1e9))
          .as("adamic_adar"))
    scored.join(und, scored("a") === und("u") && scored("b") === und("v"), "left_anti")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("common_neighbors"), col("adamic_adar"))
  }

  /** Groups [[coOccurrenceEdges]] drops at `maxGroupSize` — exact
    * distinct-item counts for the over-cap groups, same telemetry
    * contract as the dedup overflow reports: at 100 TB this IS the
    * cap-tuning signal. One count-distinct shuffle, no element
    * buffering. Returns (group, n_items, n_lost_pairs).
    */
  def coOccurrenceOverflowReport(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      maxGroupSize: Int = 1000
  ): DataFrame =
    df.filter(col(groupCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(countDistinct(col(itemCol)).as("n_items"))
      .filter(col("n_items") > maxGroupSize)
      .withColumn("n_lost_pairs", (col("n_items") * (col("n_items") - 1) / 2).cast("long"))

  /** HITS hub/authority scores (Kleinberg 1999) — the directed-
    * bipartite complement of [[pageRank]]: on buyer→item,
    * crawler→page, citing→cited graphs, authority measures "pointed
    * to by good hubs", hub measures "points at good authorities".
    * Power iteration `a ← Aᵀh, h ← Aa` with L1 (sum) normalization
    * per half-step — rank order matches the classic L2 variant
    * (normalization only rescales) and the ratio-of-sums replays
    * exactly on the 1e-9 grid, which an irrational √Σx² cannot.
    *
    * Scale shape ([[pageRank]]'s discipline, doubled): the edge
    * frame materializes TWICE, once hash-partitioned by src (the
    * auth step joins the hub frame there) and once by dst (the hub
    * step joins the auth frame there) — each half-step is one
    * node-sized join TO a cached partitioning plus one map-side-
    * combinable groupBy; normalization totals ride 1-row
    * broadcasts; per-round snap + localCheckpoint keep the float
    * fixed point engine-independent and the plan depth bounded.
    *
    * @return (node, hub, auth), each column summing to 1 up to grid
    *         rounding; nodes with no out-edges have hub 0, no
    *         in-edges auth 0
    */
  def hits(edges0: DataFrame, iters: Int): DataFrame = {
    val em = edges0.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .persist()
    em.count()
    try hitsOn(em, iters) finally em.unpersist()
  }

  /** [[hits]] over a pre-materialized src-partitioned deduplicated
    * edge frame (e.g. a [[degreeEdgeFrame]] — extra columns are
    * dropped; caller-owned persist lifecycle).
    */
  def hitsOn(em0: DataFrame, iters: Int): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    val snap = (c: Column) => floor(c * 1e9 + lit(0.5)) / 1e9
    val emSrc = em0.select(col("src"), col("dst"))
    val nodes = emSrc
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .localCheckpoint(true)
    // cost-based node-frame broadcast ([[pageRank]]'s discipline):
    // under the ceiling the hub/auth frames hash to every task, both
    // half-step joins run map-side over the ONE src-partitioned edge
    // cache, and the dst-partitioned second copy is never built;
    // past it, materialize the dst partitioning so the hub step's
    // shuffle moves the node frame, not the edges
    val small = nodes.count() <= DegreeBroadcastMaxNodes
    val emDst = if (small) emSrc else emSrc.repartition(col("dst")).persist()
    if (!small) emDst.count()
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
    var auth = nodes.select(col("node"), lit(0.0).as("auth"))
    try {
      for (_ <- 1 to iters) {
        val rawAuth = emSrc.join(nodeHint(small)(hub), emSrc("src") === hub("node"))
          .groupBy(col("dst")).agg(sum(col("hub")).as("__a"))
        val ta = rawAuth.agg(coalesce(sum(col("__a")), lit(0.0)).as("__t"))
        val prevAuth = auth
        auth = nodes
          .join(nodeHint(small)(rawAuth), nodes("node") === rawAuth("dst"), "left")
          .crossJoin(broadcast(ta))
          .select(nodes("node"),
            when(col("__t") > 0,
              snap(coalesce(col("__a"), lit(0.0)) / col("__t")))
              .otherwise(lit(0.0)).as("auth"))
          .localCheckpoint(true)
        dropSupersededCheckpoint(prevAuth)
        val rawHub = emDst.join(nodeHint(small)(auth), emDst("dst") === auth("node"))
          .groupBy(col("src")).agg(sum(col("auth")).as("__h"))
        val th = rawHub.agg(coalesce(sum(col("__h")), lit(0.0)).as("__t"))
        val prevHub = hub
        hub = nodes
          .join(nodeHint(small)(rawHub), nodes("node") === rawHub("src"), "left")
          .crossJoin(broadcast(th))
          .select(nodes("node"),
            when(col("__t") > 0,
              snap(coalesce(col("__h"), lit(0.0)) / col("__t")))
              .otherwise(lit(0.0)).as("hub"))
          .localCheckpoint(true)
        dropSupersededCheckpoint(prevHub)
      }
    } finally { if (!small) emDst.unpersist() }
    hub.join(nodeHint(small)(auth), Seq("node"))
      .select(col("node"), col("hub"), col("auth"))
  }

  /** k-core decomposition membership (Seidman 1983): iteratively
    * peel nodes of degree < k until the remainder — the maximal
    * subgraph where every node keeps ≥ k neighbors — is stable.
    * The standard cohesion screen (spam-farm and bot-ring cores,
    * "engaged community" extraction, a cheaper precursor to clique
    * mining).
    *
    * Each round is ONE degree `groupBy` (map-side partial) + two
    * alive-set semi-equi-joins over the shrinking edge frame, ended
    * by `localCheckpoint` (the [[connectedComponents]] plan-depth
    * discipline). Peeling is monotone — the edge frame only
    * shrinks, so round cost decays; rounds are data-bounded
    * (`maxRounds` caps adversarial chains, and a fixed cap is
    * REPLAYABLE: a converged graph peels to itself, so any cap ≥
    * the convergence round count yields the identical fixed point).
    *
    * @param edges0 columns `src`, `dst`; self-loops, duplicate and
    *               reversed edges are normalized away
    * @param requireConvergence when true (default) an
    *               IllegalStateException is thrown if `maxRounds`
    *               is exhausted before the fixpoint — a round-capped
    *               partial peel may still contain nodes of degree
    *               < k, which is NOT a k-core, and returning it
    *               silently would be a wrong answer. Pass false to
    *               accept the documented partial peel.
    * @return (node, degree) over the surviving k-core subgraph —
    *         empty when the graph has no k-core
    */
  def kCore(edges0: DataFrame, k: Int, maxRounds: Int = 20,
      requireConvergence: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var edges = edges0
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .distinct()
      .localCheckpoint(true)
    def degrees(e: DataFrame): DataFrame = e.select(col("hi").as("node"))
      .unionAll(e.select(col("lo").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    var prev = -1L
    var cur = edges.count()
    var round = 0
    while (cur > 0 && cur != prev && round < maxRounds) {
      prev = cur
      // alive set is node-sized (<= 2*cur): broadcast it under the
      // ceiling so the edge frame rides both peel joins map-side
      val nb = nodeHint(cur * 2 <= DegreeBroadcastMaxNodes) _
      val alive = degrees(edges).filter(col("degree") >= k).select("node")
      val prevEdges = edges
      edges = edges
        .join(nb(alive.withColumnRenamed("node", "hi")), Seq("hi"))
        .join(nb(alive.withColumnRenamed("node", "lo")), Seq("lo"))
        .localCheckpoint(true)
      dropSupersededCheckpoint(prevEdges)
      cur = edges.count()
      round += 1
    }
    if (requireConvergence && cur > 0 && cur != prev)
      throw new IllegalStateException(
        s"kCore did not converge in $maxRounds rounds ($cur edges still " +
          s"peeling) — the partial peel is not a valid $k-core; raise " +
          "maxRounds or pass requireConvergence=false to accept it")
    degrees(edges)
  }

  /** Degree assortativity coefficient (Newman 2002) — do high-degree
    * nodes attach to other high-degree nodes (assortative, r > 0:
    * social graphs) or to leaves (disassortative, r < 0: hub-spoke /
    * web graphs)? The one-number structural complement to [[kCore]]
    * and the degree distribution, and the standard screen for
    * hub-skew before running degree-sensitive algorithms.
    *
    * Pearson correlation of endpoint degrees over the SYMMETRIZED
    * edge list (each undirected edge contributes both orientations,
    * the standard undirected form). Self-loops drop; multi-edges
    * count per occurrence (pre-`distinct` upstream if unwanted).
    *
    * Scale shape: one degree `groupBy` (map-side combinable), two
    * node-frame hash joins onto the edge list (the PageRank join
    * pattern — the degree frame is node-sized, AQE broadcasts it
    * when small), then ONE map-side-combinable global agg to six
    * EXACT integer sums; the closed form is a final double
    * expression on the 1e-9 grid. No window, no sort, no driver
    * data.
    *
    * @return one row: (n_pairs, r) — r null when either side has
    *         zero degree variance (a regular graph has no defined
    *         assortativity)
    */
  def degreeAssortativity(edges0: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val e = edges0
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    // node-sized degree table: broadcast when small so the edge
    // frame rides both degree joins map-side (zero edge shuffles)
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    assortativityCore(e, deg)
  }

  /** [[degreeAssortativity]] over an already-canonicalized
    * [[SymGraph]] — the shared materialized edge frame and degree
    * table feed the joins directly (the result depends only on the
    * endpoint-degree PAIRS, which are key-representation-invariant,
    * so skipping the string cast is value-identical).
    */
  def degreeAssortativity(g: SymGraph): DataFrame =
    assortativityCore(
      g.und.select(col("u").as("src"), col("v").as("dst")),
      g.deg)

  private def assortativityCore(e: DataFrame, deg: DataFrame): DataFrame = {
    val degB = if (deg.count() <= DegreeBroadcastMaxNodes) broadcast(deg) else deg
    val withD = e
      .join(degB.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(degB.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
    val sym = withD.select(col("dx"), col("dy"))
      .unionAll(withD.select(col("dy").as("dx"), col("dx").as("dy")))
    val a = sym.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sx2"),
      sum(col("dy") * col("dy")).as("sy2"))
    val n = col("n_pairs").cast("double")
    val cov = n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val vx = n * col("sx2").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val vy = n * col("sy2").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    a.select(col("n_pairs"),
      when(col("n_pairs") > 0 && vx > 0 && vy > 0,
        floor(cov / (sqrt(vx) * sqrt(vy)) * lit(1e9) + lit(0.5)) / lit(1e9)).as("r"))
  }

  /** Local clustering coefficient per node — `2·T(v) / (d(v)·(d(v)−1))`,
    * the fraction of a node's neighbor pairs that are themselves
    * connected (Watts–Strogatz 1998): the per-node cohesion readout
    * next to [[triangleCounts]]'s raw counts and
    * [[degreeAssortativity]]'s one-number summary (tight communities
    * ≈ 1, pure hubs-and-spokes ≈ 0).
    *
    * Composition, not new machinery: the degree frame and the
    * skew-proof O(m^1.5) degree-oriented triangle count run over the
    * SAME normalized edge frame (one `localCheckpoint`, same
    * discipline as the operator it wraps), then one node-frame left
    * join — zero-triangle nodes read 0, degree-1 nodes null (no
    * neighbor pair to close). `2·T` and `d·(d−1)` are exact longs;
    * the ratio is one snapped double.
    *
    * @return (node, degree, triangles, clustering)
    */
  /** Newman modularity contributions per community
    * (Newman & Girvan 2004) — grades a labeling (from
    * [[labelPropagation]], [[connectedComponents]], or any external
    * assignment) on the graph it partitions:
    * `Q = Σ_c [ e_c/m − (D_c/2m)² ]` with `e_c` the edges inside
    * community c, `D_c` its degree sum, `m` the edge count. Random
    * hash partitions score ≈ 0, real community structure > 0 — the
    * acceptance test for any community pipeline.
    *
    * Scale shape: edges normalize once (u < v, distinct,
    * checkpointed); `m` rides a 1-row broadcast; two label joins
    * onto the edge frame + one degree join onto the node frame —
    * every count an exact long, the contribution one snapped double
    * per community. Emits per-community rows (sum `q_contrib` for
    * the global Q) so outlier communities are directly visible.
    *
    * @param labels (nodeCol, labelCol) — one row per node; unlabeled
    *               nodes drop from both terms
    * @return (community, e_in, deg_sum, q_contrib)
    */
  def modularity(
      edges0: DataFrame,
      labels: DataFrame,
      nodeCol: String = "node",
      labelCol: String = "label"
  ): DataFrame = {
    val e = edges0
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
    val m = e.agg(count(lit(1)).as("__m"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("__n"))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
    val eIn = e
      .join(lab.select(col("__n").as("u"), col("__l").as("__lu")), Seq("u"))
      .join(lab.select(col("__n").as("v"), col("__l").as("__lv")), Seq("v"))
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val degC = deg.join(lab, Seq("__n"))
      .groupBy(col("__l").as("community"))
      .agg(sum(col("__d")).as("deg_sum"))
    val d2 = col("deg_sum").cast("double") / (lit(2.0) * col("__m"))
    degC
      .join(eIn, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .withColumn("__d2", d2)
      .select(col("community"), col("e_in"), col("deg_sum"),
        (floor((col("e_in").cast("double") / col("__m") - col("__d2") * col("__d2")) *
          lit(1e9) + lit(0.5)) / lit(1e9)).as("q_contrib"))
  }

  def clusteringCoefficient(edges0: DataFrame): DataFrame = {
    val e = edges0
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(e.select(col("u").as("src"), col("v").as("dst")))
    clusteringFrom(deg, tri)
  }

  /** [[clusteringCoefficient]] over an already-canonicalized
    * [[SymGraph]] — both the degree table and the triangle count
    * read the shared materialized frames; nothing edge-sized is
    * rebuilt.
    */
  def clusteringCoefficient(g: SymGraph): DataFrame =
    clusteringFrom(
      g.deg.select(col("node"), col("deg").as("degree")),
      triangleCounts(g))

  private def clusteringFrom(deg: DataFrame, tri: DataFrame): DataFrame =
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          floor(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)).cast("double") * lit(1e9) + lit(0.5)) /
            lit(1e9)).as("clustering"))

  /** Degree power-law fit (continuous MLE, Clauset–Shalizi–Newman
    * 2009: α = 1 + n / Σ ln(dᵢ / (dMin − ½)) over nodes with
    * degree ≥ dMin) — the graph-side twin of X21's Zipf screen:
    * web/social graphs run α ≈ 2–3; a bot farm or synthetic graph
    * bends the tail, and degree-sensitive algorithms (D7g's hub
    * gate, AQE skew handling) want to know the exponent they face.
    *
    * Scale shape: ONE degree groupBy over the normalized
    * undirected edge frame + ONE global aggregation of (count,
    * Σln) — two map-side-combinable shuffles, output one row:
    * (n_nodes, n_tail, d_min, alpha). ln terms snap at 1e-9 before
    * the sum; the fit is NULL when fewer than 2 tail nodes.
    */
  def degreePowerLaw(edges0: DataFrame, dMin: Long = 2L): DataFrame = {
    val edges = edges0
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .distinct()
    val deg = edges.select(col("hi").as("node"))
      .unionAll(edges.select(col("lo").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    powerLawFromDegrees(deg, dMin)
  }

  /** [[degreePowerLaw]] over an already-canonicalized [[SymGraph]] —
    * the MLE is a pure function of the degree multiset, which the
    * shared graph already materialized; one aggregation over the
    * node-sized degree table, nothing edge-sized touched.
    */
  def degreePowerLaw(g: SymGraph, dMin: Long): DataFrame =
    powerLawFromDegrees(g.deg.select(col("node"), col("deg").as("degree")), dMin)

  private def powerLawFromDegrees(deg: DataFrame, dMin: Long): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1, got $dMin")
    val s9 = (c: Column) => floor(c * lit(1e9) + lit(0.5)) / lit(1e9)
    deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(when(col("degree") >= dMin, 1L).otherwise(0L)).as("n_tail"),
      sum(when(col("degree") >= dMin,
        s9(log(col("degree").cast("double") / lit(dMin - 0.5))))).as("__lnsum"))
      .select(col("n_nodes"), col("n_tail"), lit(dMin).as("d_min"),
        when(col("n_tail") >= 2,
          s9(lit(1.0) + col("n_tail").cast("double") / col("__lnsum"))).as("alpha"))
  }
}
