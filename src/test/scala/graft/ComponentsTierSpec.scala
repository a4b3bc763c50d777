package graft

import graft.ops.PipelineOps

/** Randomized tier equivalence for both components algorithms: on every
  * generated graph, [[PipelineOps.connectedComponents]] and
  * [[PipelineOps.largeSmallStarComponents]] return the same rows with the
  * driver tier on and forced off (`graft.components.driverEdgeBound=0`),
  * and all four equal a pure-Scala union-find reference.
  *
  * The graphs carry the cases a single fixture misses: empty graphs,
  * self-loops, duplicate and one-directional edges, isolated nodes, edge
  * endpoints outside `nodes`, ids up to 2^31−1 (the driver tier's encode
  * limit) and ids past 2^31 (the gate sends them distributed). Each graph
  * has at most 14 vertices, so every component's diameter stays under
  * `connectedComponents`' 20 rounds. Min-label propagation follows edge
  * direction, so it gets each edge both ways (its documented input);
  * star contraction gets the raw edges.
  *
  * To fit the tier-1 budget most graphs run as one disjoint union of
  * id-offset copies per Spark call; the gate-edge cases run one by one. */
class ComponentsTierSpec extends SparkSpec {
  import spark.implicits._

  private type Graph = (Seq[Long], Seq[(Long, Long)])

  /** Up to 10 nodes from [0, 10); endpoints mostly inside `nodes`, about
    * one in five from [0, 14) at large. */
  private def randomGraph(r: scala.util.Random): Graph = {
    val nodes = r.shuffle((0L until 10L).toList).take(r.nextInt(11))
    def endpoint(): Long =
      if (nodes.isEmpty || r.nextInt(5) == 0) r.nextInt(14).toLong
      else nodes(r.nextInt(nodes.size))
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (_ <- 0 until r.nextInt(12)) {
      val a = endpoint()
      val e = if (r.nextInt(10) == 0) (a, a) else (a, endpoint())
      edges += e
      if (r.nextInt(3) == 0) edges += e.swap
      if (r.nextInt(5) == 0) edges += e
    }
    (nodes, edges.toSeq)
  }

  /** (node, min id of its component) per node, over nodes ∪ endpoints. */
  private def reference(g: Graph): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    g._2.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    g._1.map(n => (n, find(n))).sorted
  }

  private def shift(g: Graph, by: Long): Graph =
    (g._1.map(_ + by), g._2.map { case (a, b) => (a + by, b + by) })

  /** Every tier of both algorithms on one (possibly batched) graph. */
  private def runAll(g: Graph): Seq[(String, Seq[(Long, Long)])] = {
    val nodes = g._1.toDF("node")
    val raw = g._2.toDF("src", "dst")
    val both = (g._2 ++ g._2.map(_.swap)).toDF("src", "dst")
    def run(): Seq[(String, Seq[(Long, Long)])] = Seq(
      "propagation" -> PipelineOps.connectedComponents(nodes, both),
      "star" -> PipelineOps.largeSmallStarComponents(nodes, raw))
      .map { case (n, f) => n -> f.as[(Long, Long)].collect().toSeq.sorted }
    val driver = run().map { case (n, rows) => s"$n/driver" -> rows }
    spark.conf.set("graft.components.driverEdgeBound", "0")
    try driver ++ run().map { case (n, rows) => s"$n/distributed" -> rows }
    finally spark.conf.unset("graft.components.driverEdgeBound")
  }

  private def assertTiers(what: String, g: Graph): Unit = {
    val want = reference(g)
    runAll(g).foreach { case (tier, rows) =>
      assert(rows === want, s"$what: $tier differs from union-find")
    }
  }

  test("components: driver and distributed tiers of both algorithms ≡ union-find on random graphs") {
    val t0 = System.nanoTime()
    val r = new scala.util.Random(20261018L)
    val Stride = 16L
    val N = 110
    val top = (1L << 31) - 1
    // batches: low ids, and high ids closed by an edge at exactly 2^31−1
    // (an endpoint outside nodes)
    val batches = Seq(0L -> Seq.empty[Graph],
      (top - (N + 1) * Stride) -> Seq[Graph]((Seq(top - 1), Seq((top, top - 1)))))
    var graphs = 0
    batches.foreach { case (base, extra) =>
      val gs = Seq.fill(N)(randomGraph(r)).zipWithIndex
        .map { case (g, i) => shift(g, base + i * Stride) } ++ extra
      assertTiers(s"batch at $base", (gs.flatMap(_._1), gs.flatMap(_._2)))
      graphs += gs.size
    }
    // gate-edge cases, one Spark call each: empty graphs and ids ≥ 2^31
    val single = Seq[(String, Graph)](
      "no nodes, no edges" -> (Seq.empty, Seq.empty),
      "nodes, no edges" -> (Seq(3L, 1L), Seq.empty),
      "edges only outside nodes" -> (Seq.empty, Seq((1L, 2L)))) ++
      Seq.fill(4)(randomGraph(r)).zipWithIndex.map { case (g, i) =>
        s"random graph at 2^31+${i * Stride}" -> shift(g, (1L << 31) + i * Stride)
      }
    single.foreach { case (what, g) => assertTiers(what, g); graphs += 1 }
    info(f"$graphs graphs, ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("an endpoint outside nodes links components in both tiers") {
    // 1 and 2 are connected only through 0, which is not in nodes
    val g: Graph = (Seq(1L, 2L, 5L), Seq((0L, 1L), (2L, 0L)))
    assert(reference(g) === Seq((1L, 0L), (2L, 0L), (5L, 5L)))
    assertTiers("via outside endpoint", g)
  }
}
