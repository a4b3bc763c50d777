package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The setup the harness mains share: conf parsing, query selection and the
  * inter-query cache sweep. */
class HarnessSpec extends SparkSpec {

  test("conf pairs: blank keys skipped, keys and values trimmed, value keeps '='") {
    assert(Harness.confPairs(" =v") === Seq.empty)
    assert(Harness.confPairs("; ;") === Seq.empty)
    assert(Harness.confPairs(" k = v ") === Seq("k" -> "v"))
    assert(Harness.confPairs("k=a=b") === Seq("k" -> "a=b"))
    assert(Harness.confPairs("a=1; =x;b = 2;;noeq") === Seq("a" -> "1", "b" -> "2"))
  }

  private val registered = SparkEntry.registry.map(_.name)

  test("selector: unset means the default set, as given") {
    val default = Seq("q02_filter_project", "q01_pricing_summary")
    assert(Harness.selected(default, None) === default)
  }

  test("selector: entries match registered names as prefixes, in registry order") {
    val picked = Harness.selected(Seq("q01_pricing_summary"), Some("q02_,q01_"))
    assert(picked === registered.filter(n => n.startsWith("q01_") || n.startsWith("q02_")))
    assert(picked.toSet === Set("q01_pricing_summary", "q02_filter_project"))
    assert(Harness.selected(Nil, Some("q3")) === registered.filter(_.startsWith("q3")))
  }

  test("selector: blank entries are ignored") {
    assert(Harness.selected(Nil, Some(" , q01_ ,,")) === Seq("q01_pricing_summary"))
    assert(Harness.selected(Seq("q01_pricing_summary"), Some(" , ")) === Seq.empty)
  }

  test("sweep leaves no persistent RDD, CacheManager entry or pending CacheOnce hook") {
    val plain = spark.range(1000).select((col("id") * 2).as("x")).persist()
    plain.count()
    val rdd = spark.sparkContext.parallelize(1 to 10).persist()
    rdd.count()
    // built, never executed: only the sweep can release it
    val once = graft.util.CacheOnce.persistForOneAction(
      spark.range(500).select((col("id") + 1).as("y")))
    assert(plain.storageLevel !== StorageLevel.NONE)
    assert(once.storageLevel !== StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(graft.util.CacheOnce.pendingCount > 0)

    Harness.sweep(spark)

    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
    assert(plain.storageLevel === StorageLevel.NONE)
    assert(once.storageLevel === StorageLevel.NONE)
    assert(graft.util.CacheOnce.pendingCount === 0)
  }
}
