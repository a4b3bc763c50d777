package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.WatermarkEtl
import graft.sources.FormSinkSource

/** A pass over a list of registry queries. Each operation is what
  * `graft.Bench` times: `GraftQuery.build`, then a `noop` write of the
  * result. Traced passes split it into build, plan (`executedPlan`) and
  * execute phases and keep the Catalyst phase times of the plan. */
final class QueryWorkload(spark: SparkSession, dir: String, plan: Runner.Plan)
    extends Workload {
  private val registry = graft.SparkEntry.queries
  private val queries = plan.queries.map(q => q -> registry.getOrElse(q,
    throw new IllegalArgumentException(s"query $q is not registered")))

  /** Untimed, per query: one warm-up execution of the timed operation,
    * then one execution that computes the result fingerprint. */
  override def precheck(check: Check): Unit = queries.foreach { case (name, build) =>
    val got =
      try {
        build(spark, dir).write.format("noop").mode("overwrite").save()
        Harness.sweep(spark)
        Harness.fingerprint(build(spark, dir))
      } catch { case scala.util.control.NonFatal(e) => s"error: $e" }
    val want = plan.fingerprints.getOrElse(name, "missing")
    check(got == want, s"$name: fingerprint $got, expected $want")
    Harness.sweep(spark)
  }

  def pass(index: Int, tracer: Tracer, check: Check,
           record: (String, String, Double) => Unit): Map[String, Any] = {
    queries.foreach { case (name, build) =>
      val t0 = System.nanoTime()
      val ok =
        try {
          tracer.span("op", name) {
            val df = tracer.span("phase", "build") { build(spark, dir) }
            if (tracer.currentId.nonEmpty) {
              tracer.span("phase", "plan") { df.queryExecution.executedPlan }
              tracer.note(df.queryExecution.tracker.phases.map { case (k, v) =>
                s"catalyst_${k}_ms" -> v.durationMs })
            }
            tracer.span("phase", "execute") {
              df.write.format("noop").mode("overwrite").save()
            }
          }
          true
        } catch { case scala.util.control.NonFatal(e) =>
          check(false, s"$name failed: $e"); false }
      val s = (System.nanoTime() - t0) / 1e9
      if (ok) { check(true, ""); record("query", name, s) }
      tracer.span("harness", "sweep") { Harness.sweep(spark) }
    }
    Map.empty
  }
}

/** The reference's own traffic: a cron-driven watermark ETL. Each pass
  * replays the `WatermarkEtl.sourceFeed` rows into a fresh `FormSinkSource`
  * table: a backfill, then seeded arrival batches, one
  * `runIncrement(viaConnector = true)` tick each. After every tick a seeded
  * point lookup of an earlier PO runs through the connector (filter
  * pushdown and file skipping); every [[CompactEvery]] ticks
  * `compactClusteredIncremental` runs on `po_number`.
  *
  * Exactly-once is checked as it goes: each tick appends exactly its batch,
  * each lookup returns its one expected row, and the final sink equals the
  * delivered prefix of the feed. Bytes are counted from the sink directory:
  * every data file that appears is new bytes written (files are
  * immutable), and live bytes are the files of the current manifest. */
final class EtlWorkload(spark: SparkSession, dir: String, seed: Long, root: String)
    extends Workload {
  import EtlWorkload._

  private val feedDf = WatermarkEtl.sourceFeed(spark, dir)
  private val cells = Seq("vendor", "description", "picker_erk", "charge_code", "po_number")
  private val feed: Array[Row] =
    feedDf.select((col("o_orderkey") +: cells.map(col)): _*)
      .orderBy(col("o_orderkey")).collect()
  /** cellBytes(i) = UTF-8 bytes of the user cells of feed rows [0, i). */
  private val cellBytes: Array[Long] = feed.scanLeft(0L) { (acc, r) =>
    acc + (1 to 5).map(i => Option(r.getString(i)).map(_.getBytes("UTF-8").length)
      .getOrElse(0)).sum
  }
  Files.createDirectories(Paths.get(root))

  /** Untimed and checked: a miniature pass (small backfill, two ticks with
    * their lookups, a compaction), so the first timed pass starts warm. */
  override def precheck(check: Check): Unit =
    replay("warmup", new scala.util.Random(seed), 20000, 2, new Tracer, check,
      (_, _, _) => ())

  def pass(index: Int, tracer: Tracer, check: Check,
           record: (String, String, Double) => Unit): Map[String, Any] = {
    val rng = new scala.util.Random(seed * 1000003L + index)
    replay(s"pass-$index", rng, BackfillRows + rng.nextInt(BackfillSpread + 1),
      Ticks, tracer, check, record)
  }

  private def replay(name: String, rng: scala.util.Random, backfill: Int,
                     ticks: Int, tracer: Tracer, check: Check,
                     record: (String, String, Double) => Unit): Map[String, Any] = {
    val path = s"$root/$name"
    deleteTree(Paths.get(path))
    val seen = mutable.Set.empty[String]
    var written = 0L
    /** Bytes of the data files that appeared since the last call. */
    def newBytes(): Long = {
      val fresh = dataFiles(path).filterNot { case (n, _) => seen(n) }
      seen ++= fresh.map(_._1)
      val b = fresh.map(_._2).sum
      written += b
      b
    }
    def timed[T](kind: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span("op", name)(body)
      record(kind, name, (System.nanoTime() - t0) / 1e9)
      r
    }
    var delivered = 0 // feed rows [0, delivered) have been offered
    def tick(kind: String, batch: Int, name: String): Unit = {
      val upTo = feed(delivered + batch - 1).getLong(0)
      val source = feedDf.filter(col("o_orderkey") <= upTo)
      val n = timed(kind, name) {
        WatermarkEtl.runIncrement(spark, source, path, viaConnector = true)
      }
      check(n == batch, s"$name appended $n rows, batch was $batch")
      delivered += batch
      newBytes()
    }

    var compactBytes = 0L
    var racesLost = 0
    var scanned = 0L
    var total = 0L
    tick("backfill", backfill, "backfill")
    for (t <- 1 to ticks) {
      tick("tick", MinBatch + rng.nextInt(MaxBatch - MinBatch + 1), s"tick $t")
      val target = feed(rng.nextInt(delivered))
      val po = target.getString(5)
      val got = timed("lookup", s"lookup $t") {
        spark.read.format(FormSinkSource.Format).option("path", path).load()
          .filter(col("po_number") === po).collect()
      }
      val (sc, tot) = FormSinkSource.lastScanFileCensus
      scanned += sc; total += tot
      check(got.length == 1 && (0 until 5).forall(i => got(0).getString(i) ==
        target.getString(i + 1)), s"lookup of $po returned ${got.length} rows")
      if (t % CompactEvery == 0) {
        val r = timed("compact", s"compact $t") {
          FormSinkSource.compactClusteredIncremental(path, "po_number")
        }
        if (r.isEmpty) racesLost += 1
        compactBytes += newBytes()
      }
    }

    // exactly-once: the sink holds the delivered prefix, nothing else
    tracer.span("harness", "check") {
      val upTo = feed(delivered - 1).getLong(0)
      val sink = spark.read.format(FormSinkSource.Format).option("path", path).load()
      val want = Harness.fingerprint(
        feedDf.filter(col("o_orderkey") <= upTo).select(cells.map(col): _*))
      val got = Harness.fingerprint(sink.select(cells.map(col): _*))
      check(got == want, s"$name sink $got, delivered feed $want")
    }

    val (version, live) = FormSinkSource.snapshotInfo(path)
    val sizes = dataFiles(path).toMap
    val stats = Map[String, Any](
      "user_bytes" -> cellBytes(delivered), "bytes_written" -> written,
      "bytes_live" -> live.map(n => sizes.getOrElse(n, 0L)).sum,
      "files_live" -> live.size, "manifest_versions" -> version,
      "compact_bytes_rewritten" -> compactBytes,
      "compact_races_lost" -> racesLost, "lookup_files_scanned" -> scanned,
      "lookup_files_total" -> total, "rows_appended" -> delivered)
    deleteTree(Paths.get(path))
    stats
  }
}

object EtlWorkload {
  val BackfillRows = 40000
  val BackfillSpread = 10000
  val Ticks = 4
  val MinBatch = 500
  val MaxBatch = 3000
  val CompactEvery = 2

  /** Regular files at the top of a sink directory (its data files). */
  def dataFiles(path: String): Seq[(String, Long)] = {
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map { o =>
        val f = o.asInstanceOf[Path]; f.getFileName.toString -> Files.size(f)
      } finally s.close()
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}
