package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Session, cache hygiene, clocks and output fingerprints shared by every
  * workload. The session is built the way `graft.Bench` builds its own:
  * `local[cpus]`, shuffle width = cpus, UTC, no UI, and
  * `Sizing.configureAdaptiveWidths` over the corpus directory. No other
  * engine setting is passed; the program runs at its defaults. */
object Harness {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Parse a JSON file into plain Java collections. */
  def readJson(path: String): java.util.Map[String, Any] =
    new ObjectMapper().readValue(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)), classOf[java.util.Map[String, Any]])

  /** Epoch microseconds on the monotonic clock, so harness spans and the
    * listener's millisecond event times share one time axis. */
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  def jvmStartUs: Long = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

  def session(sfDir: String, cpus: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.util.Sizing.configureAdaptiveWidths(builder, sfDir, cpus)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up, as `graft.Bench` does before its first query. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
  }

  /** Cache hygiene after every operation: the same sweep `graft.Bench`
    * runs between reps, minus the full GC (run once per pass instead). */
  def sweep(spark: SparkSession): Unit = {
    graft.util.CacheOnce.sweepAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat, or (0, 0). Time
    * the hypervisor gave to other guests shows as steal: a pass with much
    * of it ran on a box that was not quiet. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Driver heap retained after full collections. */
  def heapLiveMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    heapUsedMb()
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Order-independent result fingerprint: row count and the sum of one
    * 64-bit hash per row. Floating-point cells enter the hash printed to
    * 12 significant digits, so the summation order of a distributed
    * aggregate cannot flip the fingerprint; maps enter as their sorted
    * entries. */
  def fingerprint(df: DataFrame): String = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType =>
        when(c.isNull, lit(null)).otherwise(format_string("%.12g", c.cast("double")))
      case MapType(_, _, _) => to_json(array_sort(map_entries(c)))
      case _: ArrayType | _: StructType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val row = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(row.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).map(String.valueOf).getOrElse("0")}"
  }

  /** `--key value` pairs. */
  def flags(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def write(path: String, value: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      json.writeValueAsString(value))
}
