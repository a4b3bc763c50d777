package graft

import graft.ops.{EdgeSet, PipelineOps}
import graft.util.DriverCollect

/** The graph substrate and its driver gates: [[EdgeSet]]'s gate aggregate,
  * degree array and tier decision against a Scala reference on small
  * literal graphs; the hard ceiling no conf can lift; and
  * [[DriverCollect]]'s input check. */
class EdgeSetSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def check(name: String, und: Seq[(Long, Long)]): Unit = {
    val before = persistedIds
    val g = new EdgeSet(und.toDF("u", "v"))
    // reference: every undirected row adds one to each endpoint's degree
    // (a self-loop adds two), the node set is every endpoint
    val deg = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    und.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val ids = deg.keys.toSeq
    assert(g.nNodes === ids.size.toLong, name)
    assert(g.maxId === (if (ids.isEmpty) -1L else ids.max), name)
    assert(g.minId === (if (ids.isEmpty) 0L else ids.min), name)
    assert(g.idSum === ids.sum, name)
    assert(g.edgeCount === und.size.toLong, name)
    val dense = ids.nonEmpty && ids.min >= 0L && ids.max < 8000000L
    assert(g.arrayTier === dense, name)
    assert(g.broadcastTier, name)
    if (dense) {
      val want = Array.tabulate(ids.max.toInt + 1)(i => deg(i.toLong))
      assert(g.degArray.toSeq === want.toSeq, name)
    }
    g.release()
    assert(persistedIds === before, s"$name: release() left persisted RDDs")
  }

  test("EdgeSet gate, degree array and tier match a Scala reference") {
    check("empty", Seq.empty)
    check("self-loop", Seq((3L, 3L), (3L, 5L)))
    check("duplicate undirected edges", Seq((1L, 2L), (1L, 2L), (2L, 1L), (4L, 2L)))
    check("star", (1L to 9L).map(i => (0L, i)))
    // sparse and negative id spaces stay off the array tier
    check("sparse star", Seq((0L, 1L), (0L, 1L << 40)))
    check("negative id", Seq((-4L, 1L), (1L, 2L)))
  }

  test("every driver gate has a ceiling no conf lifts; 0 still forces the distributed tier") {
    val cap = DriverCollect.MaxEntries
    val conf = spark.conf
    def withConf(kv: (String, String)*)(f: => Unit): Unit = {
      kv.foreach { case (k, v) => conf.set(k, v) }
      try f finally kv.foreach { case (k, _) => conf.unset(k) }
    }
    val max = Long.MaxValue.toString
    withConf("graft.lpa.broadcastNodes" -> max, "graft.lpa.denseIdBound" -> max,
        "graft.components.driverEdgeBound" -> max) {
      assert(!EdgeSet.broadcastTier(conf, cap + 1))
      assert(EdgeSet.broadcastTier(conf, cap))
      assert(!EdgeSet.arrayTier(conf, cap + 1, 0L, cap + 1))
      assert(!EdgeSet.arrayTier(conf, 10L, 0L, cap))
      assert(EdgeSet.arrayTier(conf, cap, 0L, cap - 1))
      val bound = PipelineOps.driverEdgeBound(conf)
      assert(!PipelineOps.driverTier(bound, cap + 1, 0L, 100L))
      assert(PipelineOps.driverTier(bound, cap, 0L, 100L))
    }
    withConf("graft.lpa.broadcastNodes" -> "0", "graft.lpa.denseIdBound" -> "0",
        "graft.components.driverEdgeBound" -> "0") {
      assert(!EdgeSet.arrayTier(conf, 10L, 0L, 9L))
      assert(!EdgeSet.broadcastTier(conf, 10L))
      val bound = PipelineOps.driverEdgeBound(conf)
      assert(!PipelineOps.driverTier(bound, 10L, 0L, 9L))
      assert(!PipelineOps.driverTier(bound, 0L, 0L, -1L))
    }
    withConf("graft.lpa.denseIdBound" -> "0") {
      assert(EdgeSet.broadcastTier(conf, 10L))
      assert(!EdgeSet.arrayTier(conf, 10L, 0L, 9L))
    }
  }

  test("DriverCollect reads two non-null LONG columns and throws on anything else") {
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    DriverCollect.foreachLongPair(Seq((1L, 2L), (3L, 4L)).toDF("a", "b"))(
      (a, b) => got += ((a, b)))
    assert(got.sorted.toSeq === Seq((1L, 2L), (3L, 4L)))
    intercept[IllegalArgumentException](
      DriverCollect.longPairChunks(Seq((1, 2L)).toDF("a", "b")))
    intercept[IllegalArgumentException](
      DriverCollect.longPairChunks(Seq((1L, 2L, 3L)).toDF("a", "b", "c")))
    val e = intercept[org.apache.spark.SparkException](
      DriverCollect.longPairChunks(
        Seq((1L, Option(2L)), (3L, Option.empty[Long])).toDF("a", "b")))
    assert(e.getMessage.contains("null cell"), e.getMessage)
  }
}
