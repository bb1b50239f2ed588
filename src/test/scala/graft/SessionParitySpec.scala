package graft

/** The test session is built the way Bench, Verify and perfbench build
  * theirs: every setting `GraftSession.builder` makes must reach
  * `TestSpark.spark` with the same value, or specs exercise a
  * different engine configuration than the one that is measured.
  */
class SessionParitySpec extends SparkSpec {

  test("TestSpark carries every conf GraftSession.builder sets, with the same values") {
    val builder = GraftSession.builder("local[4]", 4)
    // the builder stages its settings in an `options` map that Scala
    // code outside Spark's sql package cannot name: read it reflectively
    val set = builder.getClass.getMethod("options").invoke(builder)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap
    assert(set.contains("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"), set)
    assert(set.contains("spark.master"), set)
    val got = set.keys.map(k => k -> spark.conf.getOption(k).orNull).toMap
    assert(got == set)
  }
}
