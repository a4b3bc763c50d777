package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder for the traced run: run → pass → operation → phase →
  * (micro-batch) → Spark job → stage. The harness opens and closes the
  * upper spans itself; jobs and stages come from a benchmark-owned
  * `SparkListener`, attributed to the enclosing phase through the
  * benchmark's own local property (never the program's job description).
  * Micro-batches come from a `StreamingQueryListener`. Spans stay in
  * memory and are written as JSONL when the run ends.
  *
  * Between `attach` and `detach` the listeners are registered; outside
  * them no listener is attached and `span` only runs its body, so untraced
  * passes time the program alone. */
class Tracer {
  import Tracer._

  /** True while a traced pass runs; spans are recorded only then. */
  @volatile private var on = false

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0L
  private val stack = mutable.Stack.empty[(String, String, String, Long)]
  private var sc: SparkContext = _

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(jobs)
    spark.streams.addListener(batches)
    on = true
  }

  def detach(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    drain()
    sc.removeSparkListener(jobs)
    spark.streams.removeListener(batches)
    on = false
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit =
    if (on && sc != null) org.apache.spark.graft.BusDrain.waitUntilEmpty(sc, 30000L)

  private def add(s: Map[String, Any]): Unit = synchronized { spans += s }

  /** Run `body` inside a span of `kind`; jobs it starts carry the span id. */
  def span[T](kind: String, name: String, attrs: => Map[String, Any] = Map.empty)(
      body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; s"h$nextId" }
      val parent = stack.headOption.map(_._1).getOrElse("")
      val start = Harness.nowUs()
      stack.push((id, kind, name, start))
      val prevProp = Option(sc).map(_.getLocalProperty(Prop))
      sc.setLocalProperty(Prop, id)
      try body
      finally {
        stack.pop()
        sc.setLocalProperty(Prop, prevProp.orNull)
        add(Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
          "start_us" -> start, "end_us" -> Harness.nowUs()) ++ attrs)
      }
    }

  def currentId: String = stack.headOption.map(_._1).getOrElse("")

  /** Attach measured attributes to the innermost open span's record. */
  def note(attrs: Map[String, Any]): Unit =
    if (on) synchronized {
      pendingNotes.getOrElseUpdate(currentId, mutable.Map.empty) ++= attrs
    }
  private val pendingNotes = mutable.Map.empty[String, mutable.Map[String, Any]]

  def writeJsonl(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try synchronized {
      spans.foreach { s =>
        val extra = pendingNotes.get(s("id").toString).map(_.toMap).getOrElse(Map.empty)
        w.write(Harness.json.writeValueAsString(s ++ extra)); w.write('\n')
      }
    } finally w.close()
  }

  // ---- listeners ------------------------------------------------------

  private final case class Job(parent: String, startMs: Long)
  private final class StageAcc(val job: Int) {
    var submittedMs = 0L
    var tasks = 0L; var failed = 0L; var busyMs = 0L; var gcMs = 0L
    var waitMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobMap = new ConcurrentHashMap[Int, Job]()
  private val stageMap = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .getOrElse("")
      jobMap.put(e.jobId, Job(parent, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobMap.remove(e.jobId)).foreach { j =>
        add(Map("id" -> s"j${e.jobId}", "parent" -> j.parent, "kind" -> "job",
          "name" -> s"job ${e.jobId}", "start_us" -> j.startMs * 1000L,
          "end_us" -> e.time * 1000L,
          "failed" -> (if (e.jobResult == JobSucceeded) 0 else 1)))
      }
    private def acc(stage: Int, attempt: Int): StageAcc =
      stageMap.computeIfAbsent((stage, attempt),
        _ => new StageAcc(stageJob.getOrDefault(stage, -1)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      acc(e.stageInfo.stageId, e.stageInfo.attemptNumber()).submittedMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(e.stageId, e.stageAttemptId)
      val m = Option(e.taskMetrics)
      a.synchronized {
        a.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
        a.durations += e.taskInfo.duration
        if (a.submittedMs > 0) a.waitMs += math.max(0L, e.taskInfo.launchTime - a.submittedMs)
        m.foreach { t =>
          a.busyMs += t.executorRunTime
          a.gcMs += t.jvmGCTime
          a.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += t.shuffleReadMetrics.remoteBytesRead +
            t.shuffleReadMetrics.localBytesRead
          a.spill += t.memoryBytesSpilled + t.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val a = Option(stageMap.remove((info.stageId, info.attemptNumber())))
        .getOrElse(new StageAcc(stageJob.getOrDefault(info.stageId, -1)))
      val start = info.submissionTime.getOrElse(a.submittedMs)
      val end = info.completionTime.getOrElse(System.currentTimeMillis())
      val d = a.synchronized(a.durations.sorted.toSeq)
      add(Map("id" -> s"s${info.stageId}.${info.attemptNumber()}",
        "parent" -> (if (a.job >= 0) s"j${a.job}" else ""), "kind" -> "stage",
        "name" -> info.name, "start_us" -> start * 1000L, "end_us" -> end * 1000L,
        "tasks" -> a.tasks, "failed_tasks" -> a.failed, "busy_ms" -> a.busyMs,
        "gc_ms" -> a.gcMs, "sched_wait_ms" -> a.waitMs,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "spill_bytes" -> a.spill,
        "task_max_ms" -> d.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2))))
    }
  }

  private val batches = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trig = d.getOrElse("triggerExecution", 0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      add(Map("id" -> s"b${p.runId}.${p.batchId}", "parent" -> "", "kind" -> "batch",
        "name" -> s"${p.name} batch ${p.batchId}", "start_us" -> start * 1000L,
        "end_us" -> (start + trig) * 1000L,
        "plan_ms" -> d.getOrElse("queryPlanning", 0L),
        "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "input_rows" -> p.numInputRows))
    }
  }
}

object Tracer {
  /** The benchmark's own local property naming the span a job runs under. */
  val Prop = "perfbench.span"
}
