package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry points, driven by `perfbench/run.py` (see perfbench/README.md):
  *
  *   - `stage`       generate the sf0.1 corpus and write its census;
  *   - `list`        registry query → module, for refreshing queries.json;
  *   - `fingerprint` result fingerprints of a list of queries;
  *   - `run`         one closed-loop workload run; writes raw samples (and,
  *                   traced, spans) for run.py to reduce into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val f = Harness.flags(args.toSeq.drop(1))
    args.headOption match {
      case Some("stage")       => stage(f("work"), f("cpus").toInt)
      case Some("list")        => list(f("out"))
      case Some("fingerprint") => fingerprints(f)
      case Some("run")         => Runner.run(f)
      case other               => sys.error(s"unknown mode $other")
    }
  }

  def stage(work: String, cpus: Int): Unit = {
    val base = s"$work/corpus/sf0.1"
    val spark = Harness.session(base, cpus)
    Corpus.base(spark, base)
    val census = Map("sf0.1" -> Corpus.census(spark, base).map { case (t, n, h) =>
      t -> Map("rows" -> n, "hash" -> h) }.toMap)
    val files = Corpus.fileSizes(Paths.get(s"$work/corpus")).toMap
    Harness.write(s"$work/corpus/census.json",
      Map("tables" -> census, "files" -> files))
    spark.stop()
  }

  def list(out: String): Unit = {
    import graft.ops._
    val modules = Seq(
      "Relational" -> Relational.queries, "Windows" -> Windows.queries,
      "Scalars" -> Scalars.queries, "AdvancedJoins" -> AdvancedJoins.queries,
      "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
      "TextAnalysis" -> TextAnalysis.queries, "Analytics" -> Analytics.queries,
      "Multimodal" -> Multimodal.queries, "PipelineOps" -> PipelineOps.queries,
      "Clustering" -> Clustering.queries, "GraphOps" -> GraphOps.queries,
      "ScaleOps" -> ScaleOps.queries, "SourcesAndUdfs" -> SourcesAndUdfs.queries,
      "StreamingOps" -> graft.streaming.StreamingOps.queries,
      "EtlQueries" -> graft.etl.EtlQueries.queries)
    Harness.write(out, modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap)
  }

  /** Fingerprint each query twice, in two fresh builds; a query whose two
    * fingerprints differ is reported as non-deterministic. */
  def fingerprints(f: Map[String, String]): Unit = {
    val dir = f("sf")
    val spark = Harness.session(dir, f("cpus").toInt)
    Harness.warmup(spark, dir)
    val registry = graft.SparkEntry.queries
    val out = f("queries").split(",").toSeq.filter(_.nonEmpty).map { q =>
      System.err.println(s"[perfbench] fingerprint $q")
      val prints = (1 to 2).map { _ =>
        try Harness.fingerprint(registry(q)(spark, dir))
        catch { case scala.util.control.NonFatal(e) => s"error: $e" }
        finally Harness.sweep(spark)
      }
      q -> prints
    }.toMap
    Harness.write(f("out"), out)
    spark.stop()
  }
}

/** One workload run. The closed loop issues one operation at a time, each
  * starting when the previous one ends. It runs whole passes until
  * `--seconds` have passed and at least [[Runner.MinPasses]] passes are
  * done. An untraced run whose passes lost more than [[Runner.MaxSteal]]
  * of the CPU to other guests runs up to [[Runner.MaxExtraPasses]] more,
  * while the loop is under `ExtraWithin` × `--seconds`, so that the result
  * can rest on quiet passes. */
object Runner {
  /** Enough passes for a per-operation median that a slow first pass
    * cannot move, and, traced, for untraced passes around a traced one. */
  val MinPasses = 3
  val MaxSteal = 0.05
  val MaxExtraPasses = 2
  val ExtraWithin = 2.5
  final case class Plan(workload: String, sf: String, queries: Seq[String],
                        fingerprints: Map[String, String])

  def run(f: Map[String, String]): Unit = {
    val work = f("work")
    val cpus = f("cpus").toInt
    val seed = f("seed").toLong
    val seconds = f("seconds").toDouble
    val traced = f("trace") == "1"
    val plan = {
      val m = Harness.readJson(f("plan")).asScala
      Plan(m("workload").toString, m("sf").toString,
        m("queries").asInstanceOf[java.util.List[String]].asScala.toSeq,
        m("fingerprints").asInstanceOf[java.util.Map[String, String]].asScala.toMap)
    }
    val dir = s"$work/corpus/${plan.sf}"
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val check = new Check {
      def apply(ok: Boolean, what: => String): Unit = {
        attempted += 1
        if (!ok) { failed += 1; if (errors.size < 50) errors += what }
      }
    }

    // set-up, three times: session + warm-up + workload preparation. The
    // first includes JVM start; the rest rebuild the session from scratch.
    val setups = mutable.ArrayBuffer.empty[Double]
    val setupParts = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var workload: Workload = null
    for (i <- 1 to 3) {
      val t0 = if (i == 1) Harness.jvmStartUs else Harness.nowUs()
      val t1 = Harness.nowUs()
      spark = Harness.session(dir, cpus)
      val t2 = Harness.nowUs()
      Harness.warmup(spark, dir)
      val t3 = Harness.nowUs()
      workload = plan.workload match {
        case "etl_cron" => new EtlWorkload(spark, dir, seed, s"$work/etl")
        case _          => new QueryWorkload(spark, dir, plan)
      }
      val t4 = Harness.nowUs()
      setups += (t4 - t0) / 1e6
      setupParts += Map("before_main_s" -> (t1 - t0) / 1e6, "session_s" -> (t2 - t1) / 1e6,
        "warmup_s" -> (t3 - t2) / 1e6, "prepare_s" -> (t4 - t3) / 1e6)
      if (i < 3) spark.stop()
    }

    // untimed warm-up and output checks before the timed loop
    workload.precheck(check)
    Harness.sweep(spark)
    System.gc()

    val tracer = new Tracer
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var pass = 0
    var quiet = 0
    while (pass < MinPasses || elapsed < seconds ||
        (!traced && quiet < MinPasses && pass < MinPasses + MaxExtraPasses &&
          elapsed < ExtraWithin * seconds)) {
      // traced runs alternate untraced and traced passes, starting untraced
      val tracedPass = traced && pass % 2 == 1
      if (tracedPass) tracer.attach(spark)
      Harness.resetHeapPeak()
      val (steal0, total0) = Harness.cpuJiffies()
      val w0 = Harness.nowUs()
      val res = tracer.span("pass", s"pass $pass") {
        workload.pass(pass, tracer, check, (kind, name, s) =>
          ops += Map("pass" -> pass, "kind" -> kind, "name" -> name, "s" -> s,
            "traced" -> tracedPass))
      }
      val w1 = Harness.nowUs()
      val (steal1, total1) = Harness.cpuJiffies()
      val peak = Harness.heapPeakMb()
      tracer.span("harness", "sweep") { Harness.sweep(spark) }
      val cached = Harness.cachedBytes(spark)
      if (tracedPass) tracer.detach(spark)
      System.gc()
      val steal = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
      if (steal <= MaxSteal) quiet += 1
      passes += Map("pass" -> pass, "traced" -> tracedPass, "wall_s" -> (w1 - w0) / 1e6,
        "steal_frac" -> steal, "start_us" -> w0, "end_us" -> w1,
        "heap_peak_mb" -> peak, "cached_bytes_after_sweep" -> cached) ++ res
      pass += 1
    }
    val loopS = elapsed
    Harness.sweep(spark)
    val heapLive = Harness.heapLiveMb()
    if (traced) tracer.writeJsonl(f("spans"))
    Harness.write(f("out"), Map(
      "workload" -> plan.workload, "seed" -> seed, "traced" -> traced,
      "cpus" -> cpus, "setup_s" -> setups, "setup_parts" -> setupParts, "loop_s" -> loopS,
      "ops" -> ops, "passes" -> passes, "heap_live_mb" -> heapLive,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version")))
    spark.stop()
  }
}

/** Counts one checked outcome; a failure is kept with its description. */
trait Check { def apply(ok: Boolean, what: => String): Unit }

trait Workload {
  /** Untimed warm-up and output checks, once, before the timed loop. */
  def precheck(check: Check): Unit
  /** One pass; returns measured per-pass attributes for the result. */
  def pass(index: Int, tracer: Tracer, check: Check,
           record: (String, String, Double) => Unit): Map[String, Any]
}
