package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are seconds on the epoch
  * clock, so benchmark spans and listener events share one axis. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** In-memory span recorder. Benchmark spans are opened around calls into
  * graft's public entry points; Spark jobs and Catalyst phases arrive from
  * listeners, micro-batches from the session's [[ProgressLog]]. A job names its parent through the
  * `perfbench.span` local property, which the benchmark sets on the thread
  * that calls into graft (micro-batch threads inherit it); listener events
  * without one are parented by time containment. */
final class Tracer(spark: SparkSession, progress: ProgressLog) {
  val SpanProp = "perfbench.span"
  private val sc = spark.sparkContext
  private val offsetS = System.currentTimeMillis() / 1e3 - System.nanoTime() / 1e9
  def now(): Double = System.nanoTime() / 1e9 + offsetS

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private var current = 0

  def add(name: String, layer: String, parent: Int, start: Double, end: Double): Span = synchronized {
    val s = Span(nextId, name, layer, parent, start, end)
    nextId += 1
    spans += s
    s
  }

  /** Time `body` as a span under the innermost open benchmark span. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = current
    val prevProp = sc.getLocalProperty(SpanProp)
    current = id
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      synchronized { spans += Span(id, name, layer, parent, t0, t1) }
      current = parent
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  def openSpan: Int = current

  // ------------------------------------------------------------ listener side

  case class TaskRec(stageId: Int, durationMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, inBytes: Long, shWrite: Long, shRead: Long, spill: Long, peakMem: Long)
  case class JobRec(id: Int, start: Double, var end: Double, parent: Int,
      batch: Option[Long])
  case class StageRec(id: Int, start: Double, end: Double)

  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val qes = mutable.ArrayBuffer[QueryExecution]()
  private var batchMark = 0
  /** Micro-batches since the last reset. */
  def batches: Vector[MicroBatch] = progress.since(batchMark)
  @volatile var recording = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
      jobs += JobRec(e.jobId, e.time / 1e3, Double.NaN, parent, batch)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time / 1e3)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L) / 1e3,
        i.completionTime.getOrElse(0L) / 1e3)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) synchronized { qes += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  def reset(): Unit = synchronized {
    spans.clear(); jobs.clear(); stages.clear(); tasks.clear(); qes.clear()
    batchMark = progress.size
    nextId = 1; current = 0
  }

  /** Listener events are delivered asynchronously; wait for the bus. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)

  /** Listener-side events become spans: micro-batches under the innermost
    * benchmark span that contains them, jobs under their property parent
    * (or their micro-batch), Catalyst phases by containment. */
  def materialize(): Unit = synchronized {
    val bench = spans.toVector
    def containing(t0: Double, t1: Double, fallback: Int): Int =
      bench.filter(s => s.start <= t0 + 1e-3 && s.end + 1e-3 >= t1)
        .sortBy(_.dur).headOption.map(_.id).getOrElse(fallback)
    val batchSpan = mutable.Map[(String, Long), Int]()
    batches.foreach { b =>
      val end = b.start + b.trigger
      val s = add(s"micro-batch ${b.batchId}", "streaming.batch", containing(b.start, end, 0), b.start, end)
      batchSpan((b.queryId, b.batchId)) = s.id
    }
    val batchByTime = batchSpan.toVector.map { case (_, id) => spans.find(_.id == id).get }
    jobs.filterNot(_.end.isNaN).foreach { j =>
      val parent = j.batch.flatMap(_ => batchByTime.find(s => s.start <= j.start + 1e-3 && j.end <= s.end + 1e-3))
        .map(_.id).getOrElse(j.parent)
      add(s"job ${j.id}", "spark.job", parent, j.start, j.end)
    }
    qes.foreach { q =>
      q.tracker.phases.foreach { case (phase, ps) =>
        val (t0, t1) = (ps.startTimeMs / 1e3, ps.endTimeMs / 1e3)
        add(s"catalyst.$phase", s"catalyst.$phase", containing(t0, t1, 0), t0, t1)
      }
    }
  }

  /** Length of [t0, t1] not covered by any of `iv`. */
  private def uncovered(t0: Double, t1: Double, iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var end = t0
    iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    math.max(0.0, (t1 - t0) - covered)
  }

  /** Self time per layer: a span's duration minus the union of its
    * children's intervals, summed by layer. */
  def selfByLayer(): Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => uncovered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)).sum
    }
  }

  /** Wall time inside [t0, t1] during which no job is running. */
  def noJobTime(t0: Double, t1: Double, js: Seq[JobRec]): Double =
    uncovered(t0, t1, js.filterNot(_.end.isNaN).map(j => (j.start, j.end)))

  def spansJson(t0: Double): String = synchronized {
    spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
      s""""parent":${s.parent},"start_s":${Json.num(s.start - t0)},"end_s":${Json.num(s.end - t0)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
