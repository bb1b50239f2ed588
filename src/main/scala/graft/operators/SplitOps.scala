package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Train/test splitting and sampling — reference surface:
  * `Dataset.train_test_split` (arrow_dataset.py:53), `shuffle`,
  * stratified options.
  *
  * Spark-first design: splits are CONTENT-DETERMINISTIC, not
  * index-based. A hash-bucket on a stable key assigns every row a
  * split independent of partitioning, row order, executor count, or
  * retries — the property you need for reproducible 100 TB splits
  * (an index-based split is only reproducible single-node).
  */
object SplitOps {

  /** Adds `splitCol` = "train" | "test". `testFraction` of hash
    * buckets go to test. Uses xxhash64 of the key columns (seeded)
    * — no shuffle at all, it's a projection.
    */
  def trainTestSplit(
      df: DataFrame,
      keyCols: Seq[String],
      testFraction: Double,
      seed: Long = 42L,
      splitCol: String = "split"
  ): DataFrame = {
    require(testFraction > 0 && testFraction < 1, "testFraction in (0,1)")
    val bucket = pmod(xxhash64(lit(seed) +: keyCols.map(col): _*), lit(10000))
    trainTestSplitWith(df, bucket, testFraction, splitCol)
  }

  /** Split on a caller-supplied bucket expression in [0,10000) —
    * lets callers swap the hash (e.g. a portable multiplicative
    * bucket when cross-engine reproducibility matters more than
    * avalanche quality).
    */
  def trainTestSplitWith(
      df: DataFrame,
      bucket: org.apache.spark.sql.Column,
      testFraction: Double,
      splitCol: String = "split"
  ): DataFrame = {
    require(testFraction > 0 && testFraction < 1, "testFraction in (0,1)")
    df.withColumn(splitCol, when(bucket < lit((testFraction * 10000).toInt), "test").otherwise("train"))
  }

  /** Stratified split: within each label, rank rows by a seeded hash
    * and cut at the quantile — every label keeps ~testFraction in
    * test. One window shuffle on the label key; skewed labels are
    * exactly the large-population ones, which AQE splits.
    */
  def stratifiedSplit(
      df: DataFrame,
      labelCol: String,
      keyCols: Seq[String],
      testFraction: Double,
      seed: Long = 42L,
      splitCol: String = "split"
  ): DataFrame = {
    val h = xxhash64(lit(seed) +: keyCols.map(col): _*)
    val w = Window.partitionBy(labelCol).orderBy(h)
    val n = Window.partitionBy(labelCol)
    df.withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .withColumn(splitCol, when(col("__r") <= col("__n") * testFraction, "test").otherwise("train"))
      .drop("__r", "__n")
  }

  /** Stratified sample: keep ~fraction of each label's rows,
    * content-deterministic (hash-bucket per row).
    */
  def stratifiedSample(
      df: DataFrame,
      labelCol: String,
      keyCols: Seq[String],
      fractions: Map[String, Double],
      seed: Long = 42L
  ): DataFrame = {
    val bucket = pmod(xxhash64(lit(seed) +: keyCols.map(col): _*), lit(10000))
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (label, f)) =>
      when(col(labelCol).cast("string") === label, lit(f)).otherwise(acc)
    }
    df.filter(bucket < frac * 10000)
  }

  /** Deterministic k-fold assignment: fold i ∈ [0,k) per row,
    * content-hashed — every fold is reproducible on any cluster
    * shape, and grouping keys (e.g. the sample id) keep all their
    * rows in one fold.
    */
  def kFold(df: DataFrame, keyCols: Seq[String], k: Int, seed: Long = 42L, foldCol: String = "fold"): DataFrame = {
    require(k >= 2, "k >= 2")
    df.withColumn(foldCol, pmod(xxhash64(lit(seed) +: keyCols.map(col): _*), lit(k)).cast("int"))
  }

  /** Deterministic shuffle: global sort by seeded hash. (The
    * reference shuffles via a cached permutation of indices —
    * single-node only. A seeded-hash sort gives the same property —
    * stable pseudo-random order — as one range-partitioned sort.)
    */
  def deterministicShuffle(df: DataFrame, keyCols: Seq[String], seed: Long = 42L): DataFrame =
    df.orderBy(xxhash64(lit(seed) +: keyCols.map(col): _*))

  /** Deterministic shuffle with the permutation MATERIALIZED as a
    * 0-based position column — the reference's shuffle returns an
    * explicit row order, which on a cluster must be data, not
    * partition order. The coin is the same SQL-portable
    * multiplicative hash family as [[graft.operators.MixOps]]'s
    * (`(id·40503 + seed) mod 999983`), so the full permutation is
    * replayable by any ANSI engine; ties break on the id itself.
    * One range sort + a partition-ordered zipWithIndex — no global
    * window.
    */
  def shuffledWithPosition(df: DataFrame, idCol: String, seed: Long = 42L, posCol: String = "pos"): DataFrame = {
    val coin = pmod(col(idCol) * lit(40503L) + lit(seed), lit(999983L))
    ReshapeOps.withRowIndex(df.orderBy(coin, col(idCol)), posCol)
  }

  /** N-way deterministic split (train/val/test and beyond): named
    * fractions partition the 10000-bucket hash space in the given
    * order; the last split absorbs rounding remainder. Same
    * content-deterministic zero-shuffle contract as
    * [[trainTestSplit]].
    */
  def multiSplit(
      df: DataFrame,
      keyCols: Seq[String],
      splits: Seq[(String, Double)],
      seed: Long = 42L,
      splitCol: String = "split"
  ): DataFrame = {
    val bucket = pmod(xxhash64(lit(seed) +: keyCols.map(col): _*), lit(10000))
    multiSplitWith(df, bucket, splits, splitCol)
  }

  /** [[multiSplit]] on a caller-supplied bucket expression in
    * [0,10000) — the portable-coin form.
    */
  def multiSplitWith(
      df: DataFrame,
      bucket: org.apache.spark.sql.Column,
      splits: Seq[(String, Double)],
      splitCol: String = "split"
  ): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(splits.forall(_._2 > 0), "every fraction must be positive")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"fractions must sum to 1, got $total")
    val cuts = splits.init.scanLeft(0) { case (acc, (_, f)) => acc + (f * 10000).toInt }.tail
    val expr = splits.init.zip(cuts).foldRight(lit(splits.last._1): org.apache.spark.sql.Column) {
      case (((name, _), cut), rest) => when(bucket < lit(cut), name).otherwise(rest)
    }
    df.withColumn(splitCol, expr)
  }

  /** Leakage-safe train/test split: every member of a duplicate /
    * near-duplicate cluster lands on the SAME side, so the test set
    * never contains a (near-)copy of a training document — the
    * contamination mode a row-wise split cannot prevent (Lee et al.
    * 2021 measure it inflating eval scores on duplicated corpora).
    *
    * `clusters` is an (id → cluster_id) assignment from any of the
    * dedup families ([[DedupOps.dupClusters]],
    * [[GraphOps.connectedComponents]] over near-dup pairs, exact
    * hash groups). Rows absent from it are singletons and split on
    * their own id. ONE left join (cluster frames hold only the
    * duplicated minority, so AQE broadcasts them at typical dup
    * rates) + the same content-deterministic hash-bucket coin as
    * [[trainTestSplit]] — partitioning/retry/row-order independent.
    */
  def clusterAwareSplit(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      clusterIdCol: String,
      clusterMemberCol: String,
      testFraction: Double,
      seed: Long = 42L,
      splitCol: String = "split"
  ): DataFrame = {
    require(testFraction > 0 && testFraction < 1, "testFraction in (0,1)")
    val cl = clusters.select(
      col(clusterMemberCol).as("__m"), col(clusterIdCol).as("__cl"))
    val keyed = df.join(cl, df(idCol) === col("__m"), "left")
      .withColumn("__key", coalesce(col("__cl"), df(idCol)))
    val bucket = pmod(xxhash64(lit(seed), col("__key")), lit(10000))
    trainTestSplitWith(keyed, bucket, testFraction, splitCol)
      .withColumnRenamed("__key", "split_key").drop("__m", "__cl")
  }

  /** [[clusterAwareSplit]] with a caller-supplied portable bucket
    * expression over the resolved cluster key (exposed for
    * cross-engine-replayable splits — same contract as
    * [[trainTestSplitWith]]).
    */
  def clusterAwareSplitWith(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      clusterIdCol: String,
      clusterMemberCol: String,
      bucketOfKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      testFraction: Double,
      splitCol: String = "split"
  ): DataFrame = {
    require(testFraction > 0 && testFraction < 1, "testFraction in (0,1)")
    val cl = clusters.select(
      col(clusterMemberCol).as("__m"), col(clusterIdCol).as("__cl"))
    val keyed = df.join(cl, df(idCol) === col("__m"), "left")
      .withColumn("__key", coalesce(col("__cl"), df(idCol)))
    trainTestSplitWith(keyed, bucketOfKey(col("__key")), testFraction, splitCol)
      .withColumnRenamed("__key", "split_key").drop("__m", "__cl")
  }

  /** Temporal train/test split — train on the past, evaluate on
    * the future (the TIME-leakage guard next to
    * [[clusterAwareSplit]]'s content-leakage guard: a random split
    * of time-series data lets the model peek at the future; every
    * forecasting/churn/drift eval needs this split instead). The
    * cutoff is the exact type-7 `1 − testFraction` percentile of
    * the event time, so the test side holds ~testFraction of ROWS
    * (not of calendar span — a bursty tail week still lands wholly
    * in test).
    *
    * Scale shape: the cutoff is the exact type-7 percentile of the
    * `granularitySeconds`-bucketed event time via
    * [[StatsOps.groupQuantileExact]] — the DISTINCT-value
    * discipline (groupBy(bucket) counts + cumulative windows),
    * because Spark's own `percentile` aggregate BUFFERS every
    * value and a 50M-row probe OOMs it (SCALEPROBE_r08.md; the RFM
    * precedent only works over pre-collapsed customer frames). The
    * bucketing is what makes the distinct frame CALENDAR-bounded —
    * at 1s granularity a year of data is ≤ 3.2·10⁷ quantile rows
    * no matter how many trillion events it holds (and the one
    * ordered window over it is the same documented single-partition
    * frame as the KS statistic — coarsen granularity if the span
    * is extreme). The cutoff rides back as a 1-row broadcast and
    * the row side never shuffles. Ties at the cutoff bucket go to
    * train (`<=`); NULL timestamps go to test (they cannot prove
    * they precede the cutoff — the conservative side for training
    * hygiene).
    */
  /** Cluster-aware k-fold — every member of a duplicate/near-dup
    * cluster lands in the SAME fold ([[clusterAwareSplit]]'s
    * contamination guard applied to cross-validation: a row-wise
    * k-fold leaks near-copies of validation documents into every
    * training fold). Rows absent from `clusters` are singletons
    * folded on their own id. Same ONE left join (AQE-broadcast at
    * typical dup rates) + the content-deterministic hash coin as
    * the other splits — partitioning/retry/row-order independent.
    */
  def groupKFold(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      clusterCol: String,
      memberCol: String,
      k: Int,
      foldCol: String = "fold"
  ): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    groupKFoldWith(df, idCol, clusters, clusterCol, memberCol,
      key => pmod(xxhash64(key), lit(k.toLong)).cast("int"), foldCol)
  }

  /** [[groupKFold]] with a caller-supplied fold coin over the fold
    * key (cluster id, or the row's own id for singletons) — the
    * portable-coin form an SQL oracle replays exactly.
    */
  def groupKFoldWith(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      clusterCol: String,
      memberCol: String,
      foldOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      foldCol: String = "fold"
  ): DataFrame = {
    // join on the MEMBER id, fold by the CLUSTER id — the same
    // (cluster, member) argument order as clusterAwareSplit
    val cl = clusters.select(col(memberCol).as("__id"), col(clusterCol).as("__cl"))
    df.join(cl, df(idCol) === col("__id"), "left")
      .withColumn("fold_key", coalesce(col("__cl"), df(idCol)))
      .withColumn(foldCol, foldOf(col("fold_key")))
      .drop("__id", "__cl")
  }

  def temporalSplit(
      df: DataFrame,
      tsCol: String,
      testFraction: Double,
      splitCol: String = "split",
      granularitySeconds: Long = 1L
  ): DataFrame = {
    require(testFraction > 0 && testFraction < 1,
      s"testFraction must be in (0,1), got $testFraction")
    require(granularitySeconds >= 1, s"granularitySeconds must be >= 1, got $granularitySeconds")
    val bucket = expr(s"unix_micros($tsCol) div ${1000000L * granularitySeconds}")
    val buckets = df.filter(col(tsCol).isNotNull)
      .select(bucket.as("__m"), lit(1).as("__g"))
    val cut = StatsOps.groupQuantileExact(buckets, Seq("__g"), "__m", 1.0 - testFraction)
      .select(col("q_value").as("__cut"))
    df.crossJoin(broadcast(cut))
      .withColumn(splitCol,
        when(bucket.cast("double") <= col("__cut"), "train").otherwise("test"))
      .drop("__cut")
  }
}
