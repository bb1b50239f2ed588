package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classic pattern mining over basket-shaped frames — the
  * market-basket layer on top of [[GraphOps.coOccurrenceEdges]]'s
  * capped pair machinery (Agrawal–Srikant 1994 support/confidence
  * framework, pairwise rules).
  */
object MiningOps {

  private def snap9(c: Column): Column =
    floor(c * lit(1e9) + lit(0.5)) / lit(1e9)

  /** Eager materialization of a multi-consumer sub-frame, decided
    * from the frame's optimizer size estimate vs
    * `spark.graft.mining.materializeAutoBytes` (default 1 GiB), so
    * the decision scales with the input. Below the threshold
    * recompute-from-lineage wins: a same-JVM alternation measured it
    * faster at bench scale (q_item_sim wall 2.20-2.75 vs 2.70-3.26 s,
    * q_rules a wash on CPU — OPTIMIZATION_r16.md §3), since each
    * replay is column-pruned, AQE-coalesced and page-cached while
    * eager checkpoints serialize the query into extra sequential
    * jobs. Above it (corpus-scale inputs) the replays re-shuffle
    * corpus-sized bytes once per consumer (items feeds 3-5
    * consumers) and the page cache no longer hides the re-scan.
    */
  private def mat(df: DataFrame): DataFrame = {
    val on = df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(graft.GraftConf.miningMaterializeAutoBytes(df.sparkSession))
    if (on) df.localCheckpoint(true) else df
  }

  /** Pairwise association rules `antecedent → consequent` with
    * support, confidence and lift. Items are numeric ids
    * (dictionary-encode strings upstream with
    * [[LabelOps.classEncode]] — the same contract as
    * [[GraphOps.coOccurrenceEdges]]).
    *
    * Scale shape: baskets collapse through ONE
    * `CappedCollectSet` aggregation (O(maxBasketSize) memory per
    * basket, degenerate baskets drop — the co-occurrence cap
    * discipline), pairs emit bucket-locally and count map-side;
    * item supports are a second map-side-combinable count; the
    * rule frame is |item-pairs| rows joined to the item-sized
    * support frame; the basket total rides a 1-row broadcast.
    * Confidence and lift are integer-count ratios on the 1e-9
    * grid.
    *
    * @param minSupport    minimum co-occurrence basket count
    * @param minConfidence minimum snapped `n_pair / n_antecedent`
    * @return (antecedent, consequent, n_pair, n_ante, n_cons,
    *         confidence, lift) — both rule directions of each
    *         qualifying pair
    */
  def associationRules(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long = 2L,
      minConfidence: Double = 0.1,
      maxBasketSize: Int = 1000
  ): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(minConfidence > 0 && minConfidence <= 1,
      s"minConfidence in (0,1], got $minConfidence")
    // the basket-membership frame feeds THREE consumers (totals,
    // supports, pairs — and pairs twice through the direction
    // union): without materialization each replays the caller's
    // basket-building lineage — the r16 plan audit counted the base
    // subtree executed 5x (no AQE reuse). See [[mat]] for why the
    // gate still defaults OFF at bench scale.
    val items = mat(df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__g"), col(itemCol).cast("long").as("__i"))
      .distinct())
    val totals = items.agg(countDistinct(col("__g")).as("__nb"))
    // item-sized, consumed by BOTH direction joins — materialize
    val supports = mat(items.groupBy(col("__i")).agg(count(lit(1)).as("__ni")))
    // pair-sized after the minSupport cut, consumed by both union
    // branches — materialize so the collect+generate pass runs once
    val pairs = mat(items
      .groupBy(col("__g"))
      .agg(graft.functions.PairGenerators.cappedCollectSet(col("__i"), maxBasketSize + 1).as("__m"))
      .filter(size(col("__m")) <= maxBasketSize)
      .select(graft.functions.PairGenerators.idPairs(col("__m")).as(Seq("id_a", "id_b")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minSupport))
    val directed = pairs.select(col("id_a").as("antecedent"), col("id_b").as("consequent"), col("n_pair"))
      .unionAll(pairs.select(col("id_b").as("antecedent"), col("id_a").as("consequent"), col("n_pair")))
    val joined = directed
      .join(supports.select(col("__i").as("antecedent"), col("__ni").as("n_ante")), Seq("antecedent"))
      .join(supports.select(col("__i").as("consequent"), col("__ni").as("n_cons")), Seq("consequent"))
      .crossJoin(broadcast(totals))
    joined
      .withColumn("confidence", snap9(col("n_pair").cast("double") / col("n_ante").cast("double")))
      .withColumn("lift", snap9((col("n_pair") * col("__nb")).cast("double") /
        (col("n_ante").cast("double") * col("n_cons").cast("double"))))
      .filter(col("confidence") >= minConfidence)
      .select(col("antecedent"), col("consequent"), col("n_pair"),
        col("n_ante"), col("n_cons"), col("confidence"), col("lift"))
  }

  /** Item-item cosine similarity from basket co-occurrence — the
    * bipartite projection behind neighborhood collaborative
    * filtering ("customers who bought X also bought Y", Sarwar et
    * al. 2001): over binary basket membership,
    * `cos(a, b) = n_ab / √(n_a·n_b)` with `n_ab` the baskets holding
    * both and `n_a`/`n_b` each item's basket count — the
    * count-normalized upgrade of [[associationRules]]' confidence
    * (symmetric, popularity-damped).
    *
    * Same scale machinery as the rules: baskets collapse through ONE
    * `CappedCollectSet` (heavy baskets drop pairs, observable via
    * the co-occurrence overflow report — item counts stay uncapped,
    * the [[associationRules]] contract), pairs count map-side, and
    * the pair frame joins the item-sized count frame twice. All
    * counts exact longs; the cosine is one snapped double. `minCo`
    * prunes the long noise tail BEFORE the joins.
    *
    * @return (id_a, id_b, n_a, n_b, n_ab, cosine) with `id_a < id_b`
    */
  def itemCosineSimilarity(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minCo: Long = 2L,
      maxBasketSize: Int = 1000
  ): DataFrame = {
    require(minCo >= 1, s"minCo must be >= 1, got $minCo")
    // same multi-consumer materialization as [[associationRules]]:
    // items feeds counts AND pairs; counts feeds both cosine joins
    val items = mat(df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__g"), col(itemCol).cast("long").as("__i"))
      .distinct())
    val counts = mat(items.groupBy(col("__i")).agg(count(lit(1)).as("__n")))
    val pairs = items
      .groupBy(col("__g"))
      .agg(graft.functions.PairGenerators.cappedCollectSet(col("__i"), maxBasketSize + 1).as("__m"))
      .filter(size(col("__m")) <= maxBasketSize)
      .select(graft.functions.PairGenerators.idPairs(col("__m")).as(Seq("id_a", "id_b")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCo)
    pairs
      .join(counts.select(col("__i").as("id_a"), col("__n").as("n_a")), Seq("id_a"))
      .join(counts.select(col("__i").as("id_b"), col("__n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("n_ab"),
        snap9(col("n_ab").cast("double") /
          sqrt(col("n_a").cast("double") * col("n_b"))).as("cosine"))
  }
}
