package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** One finished micro-batch of a streaming query, as reported by its
  * `StreamingQueryProgress`. `startUs` is the trigger start. */
final case class BatchProgress(queryId: String, batchId: Long, startUs: Long,
                               durationMs: Map[String, Long], rows: Long) {
  def triggerMs: Long = durationMs.getOrElse("triggerExecution", 0L)
  def endUs: Long = startUs + triggerMs * 1000L
}

/** Observes the program from outside through the listener interfaces.
  *
  * Always on: a `StreamingQueryListener` that keeps each watched query's
  * progress reports, since the end-to-end `batch_s` of the stream
  * workloads is the consumer's trigger time.
  *
  * Only when tracing: spans (workload → micro-batch or query → phase →
  * Spark job, linked by parent ids) kept in memory and written as JSON
  * lines at the end, plus a `SparkListener` that folds task metrics into
  * the span of the job that ran them. Jobs find their parent through
  * local properties: the benchmark sets `perfbench.span` on its own
  * thread; streaming jobs carry the engine's query and batch ids. */
final class Tracer(val enabled: Boolean) {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val roles = new ConcurrentHashMap[String, String]()
  private val progress = new ConcurrentLinkedQueue[BatchProgress]()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()

  def span(id: String, parent: String, layer: String, name: String,
           startUs: Long, endUs: Long, attrs: (String, Double)*): Unit =
    if (enabled) lines.add(Json.obj(Seq(
      "id" -> Json.str(id), "parent" -> Json.str(parent),
      "layer" -> Json.str(layer), "name" -> Json.str(name),
      "start_us" -> startUs.toString, "end_us" -> endUs.toString,
      "attrs" -> Json.obj(attrs.map { case (k, v) => k -> Json.num(v) }))))

  /** Run `body` with jobs it starts attributed to span `id`. */
  def within[T](spark: SparkSession, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanKey, id)
    try body finally sc.setLocalProperty(Tracer.SpanKey, null)
  }

  def watch(q: StreamingQuery, role: String): Unit = {
    roles.put(q.id.toString, role)
    roles.put(q.runId.toString, role)
  }

  /** Progress of the query watched as `role`, in batch order. Roles are
    * resolved late: a query's first batch can report before `watch`. */
  def batches(role: String): Seq[BatchProgress] =
    progress.asScala.filter(b => roles.get(b.queryId) == role).toSeq
      .sortBy(_.batchId)

  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(streamListener)
    if (enabled) spark.sparkContext.addSparkListener(jobListener)
  }

  /** Waits until every started job has been seen to end and the listener
    * queues have had time to drain, then emits the micro-batch spans. */
  def finish(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (jobsEnded.get() < jobsStarted.get() && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(300)
    if (enabled) progress.asScala.foreach { b =>
      Option(roles.get(b.queryId)).foreach(emitBatch(_, b))
    }
  }

  def write(path: Path): Unit =
    Files.writeString(path, lines.asScala.mkString("", "\n", "\n"))

  /** Phases of one trigger in the order the micro-batch engine runs them;
    * their durations are laid end to end under the trigger span, and what
    * they leave uncovered is the trigger's self time. */
  private val phaseOrder = Seq("latestOffset", "walCommit", "getBatch",
    "setOffsetRange", "queryPlanning", "addBatch", "commitOffsets")

  private def emitBatch(role: String, b: BatchProgress): Unit = {
    val id = s"$role:${b.batchId}"
    span(id, "workload", role, "batch", b.startUs, b.endUs,
      "batch_id" -> b.batchId.toDouble, "rows" -> b.rows.toDouble)
    var t = b.startUs
    val phases = phaseOrder.filter(b.durationMs.contains) ++
      (b.durationMs.keySet -- phaseOrder - "triggerExecution").toSeq.sorted
    phases.foreach { p =>
      val d = b.durationMs(p) * 1000L
      span(s"$id:$p", id, role, p, t, t + d)
      t += d
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p: StreamingQueryProgress = e.progress
      if (p.durationMs.containsKey("addBatch")) {
        val i = java.time.Instant.parse(p.timestamp)
        progress.add(BatchProgress(p.id.toString, p.batchId,
          i.getEpochSecond * 1000000L + i.getNano / 1000L,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
      }
    }
  }

  private final class JobAcc(val startUs: Long, val props: java.util.Properties) {
    val tasks = new AtomicLong(); val runMs = new AtomicLong()
    val cpuNs = new AtomicLong(); val gcMs = new AtomicLong()
    val shuffleWrite = new AtomicLong(); val shuffleRead = new AtomicLong()
    val spill = new AtomicLong()
  }

  private val jobListener = new SparkListener {
    private val jobs = new ConcurrentHashMap[Int, JobAcc]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val props = Option(e.properties).map(_.clone().asInstanceOf[java.util.Properties])
        .getOrElse(new java.util.Properties())
      jobs.put(e.jobId, new JobAcc(e.time * 1000L, props))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      val m = e.taskMetrics
      acc.foreach { a =>
        a.tasks.incrementAndGet()
        if (m != null) {
          a.runMs.addAndGet(m.executorRunTime)
          a.cpuNs.addAndGet(m.executorCpuTime)
          a.gcMs.addAndGet(m.jvmGCTime)
          a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val a = jobs.remove(e.jobId)
      if (a != null) {
        val own = a.props.getProperty(Tracer.SpanKey)
        val role = Option(a.props.getProperty("sql.streaming.queryId"))
          .flatMap(q => Option(roles.get(q)))
        val batch = a.props.getProperty("streaming.sql.batchId")
        val parent =
          if (own != null) own
          else role.map(r => s"$r:$batch:addBatch").getOrElse("workload")
        val ok = if (e.jobResult == JobSucceeded) 1.0 else 0.0
        span(s"job:${e.jobId}", parent, "spark", "job", a.startUs,
          e.time * 1000L, "tasks" -> a.tasks.get.toDouble,
          "run_ms" -> a.runMs.get.toDouble, "cpu_ms" -> a.cpuNs.get / 1e6,
          "gc_ms" -> a.gcMs.get.toDouble,
          "shuffle_write_bytes" -> a.shuffleWrite.get.toDouble,
          "shuffle_read_bytes" -> a.shuffleRead.get.toDouble,
          "spill_bytes" -> a.spill.get.toDouble, "succeeded" -> ok)
      }
      jobsEnded.incrementAndGet()
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
