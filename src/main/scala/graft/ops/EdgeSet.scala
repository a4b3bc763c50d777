package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, RuntimeConfig}
import org.apache.spark.sql.functions._

/** One undirected graph, set up once for the iterative graph queries
  * (PageRank q130, BFS q176, k-core q310 and the LPA family q326/q333/q335).
  *
  * Takes the UNDIRECTED edge frame `(u, v)` (each edge once) and owns:
  *   - [[edges]]: the symmetric frame (it holds (a, b) iff (b, a)),
  *     hash-partitioned on u at a [[graft.util.Sizing]] width and persisted.
  *     Every round that groups by u runs exchange-free over it, and a
  *     fallback round joining on u ships only its O(V) side. Because the
  *     frame is symmetric, `groupBy(u)` + lookup(v) equals the textbook
  *     `groupBy(v)` + lookup(u).
  *   - [[degrees]]: `(u, deg)`, persisted (O(V)). In-degree equals
  *     out-degree on the symmetric frame, and its rows are the node set.
  *   - one gate job over [[degrees]] giving [[nNodes]], [[minId]],
  *     [[maxId]], [[idSum]] and [[edgeCount]]; it also materializes both
  *     caches.
  *   - the tier decision ([[broadcastTier]], [[arrayTier]]).
  *
  * Array tier: under [[EdgeSet.arrayTier]] a per-round O(V) vector (labels,
  * ranks, distances, survivor flags) ships as one `Broadcast[Array[Long]]`
  * indexed by node id ([[EdgeSet.lookup]]) inside the round's own aggregate
  * over [[edges]], so nothing O(E) crosses the wire after the one-time
  * repartition. The per-round O(V) collect is what the engine's broadcast
  * build would do, minus the V-entry hash relation. Past the gate the
  * callers keep their one-shuffle-per-round BSP loops.
  *
  * `rowBound`: an upper bound on the undirected edge count that sizes the
  * exchanges without a job (the lineitem row count for the bipartite
  * graph). Without one, the derivation is persisted and counted exactly:
  * both symmetrization branches then read one materialization, so an
  * expensive derivation (q335's projection) is computed once.
  *
  * The caller owns the lifetime: [[release]] once nothing lazy still reads
  * the caches, or leave them to the harness's inter-query sweep. */
private[graft] final class EdgeSet(undirected: DataFrame,
                                   rowBound: Option[Long] = None) {
  val session: org.apache.spark.sql.SparkSession = undirected.sparkSession
  private val und = if (rowBound.isEmpty) undirected.persist() else undirected
  /** Exchange width for the O(E) frames of this graph. */
  val width: Int = graft.util.Sizing.exchangePartitions(session,
    2L * rowBound.getOrElse(und.count()))
  val edges: DataFrame =
    und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .repartition(width, col("u")).persist()
  val degrees: DataFrame =
    edges.groupBy(col("u")).agg(count(lit(1)).as("deg")).persist()
  /** Node count, id range, id sum (the identity assignment's label sum) and
    * undirected edge count (half the degree sum), from one job. Empty
    * graph: `(0, 0, -1, 0, 0)`. */
  val (nNodes, minId, maxId, idSum, edgeCount) = {
    val r = degrees.agg(count(lit(1)), coalesce(min(col("u")), lit(0L)),
      coalesce(max(col("u")), lit(-1L)), coalesce(sum(col("u")), lit(0L)),
      coalesce(sum(col("deg")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4) / 2)
  }
  if (rowBound.isEmpty) und.unpersist()
  val broadcastTier: Boolean = EdgeSet.broadcastTier(session.conf, nNodes)
  val arrayTier: Boolean = EdgeSet.arrayTier(session.conf, nNodes, minId, maxId)

  /** A `(node, value)` frame as a node-indexed array over `[0, maxId]`,
    * `fill` in the slots no row names. Array tier only. */
  def collect(f: DataFrame, fill: Long = 0L): Array[Long] = {
    val arr = Array.fill[Long](maxId.toInt + 1)(fill)
    graft.util.DriverCollect.foreachLongPair(f)((k, x) => arr(k.toInt) = x)
    arr
  }

  /** [[degrees]] as a node-indexed array (0 = not a node). Array tier only. */
  def degArray: Array[Long] = collect(degrees)

  def release(): Unit = {
    degrees.unpersist(false)
    edges.unpersist(false)
  }
}

private[graft] object EdgeSet {

  /** Node budget of the broadcast tiers: 4M nodes ≈ 64 MB of (node, lab)
    * longs, executor-resident (the sf10 graphs carry ~2.1M). */
  val DefaultBroadcastNodes: Long = 4000000L

  /** The one read of the graph tier confs, each clamped to
    * [[graft.util.DriverCollect.MaxEntries]]: `graft.lpa.broadcastNodes`
    * (node budget) and `graft.lpa.denseIdBound` (array length budget,
    * default twice the node budget). Specs set them to pin a tier. */
  private def bounds(conf: RuntimeConfig): (Long, Long) = {
    val cap = graft.util.DriverCollect.MaxEntries
    val nodes = math.min(cap, conf.getOption("graft.lpa.broadcastNodes")
      .map(_.toLong).getOrElse(DefaultBroadcastNodes))
    val ids = math.min(cap, conf.getOption("graft.lpa.denseIdBound")
      .map(_.toLong).getOrElse(2L * nodes))
    (nodes, ids)
  }

  /** Whether the O(V) label frame may broadcast (LPA's join tier). */
  def broadcastTier(conf: RuntimeConfig, nNodes: Long): Boolean =
    nNodes <= bounds(conf)._1

  /** Whether the per-round vector fits a dense node-indexed array: under
    * the node budget, and every id in `[0, idBound)`. Sparse or negative
    * id spaces take the other tiers; correctness never depends on the
    * choice, only the constant. */
  def arrayTier(conf: RuntimeConfig, nNodes: Long, minId: Long,
                maxId: Long): Boolean = {
    val (nodeBound, idBound) = bounds(conf)
    nNodes <= nodeBound && minId >= 0L && maxId >= 0L && maxId < idBound
  }

  /** `arr(c)` under a broadcast node-indexed array. */
  def lookup(bc: Broadcast[Array[Long]], c: Column): Column =
    org.apache.spark.sql.graft.GraftShim.column(
      org.apache.spark.sql.graft.LabelArrayLookup(
        org.apache.spark.sql.graft.GraftShim.expression(c), bc))
}
