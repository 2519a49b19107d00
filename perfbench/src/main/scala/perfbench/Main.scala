package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run of one workload, in one local[4] session:
  *
  *   set-up   session start, seeded input generation (repeated, median),
  *            a generic warm-up job, and graft-side set-up (index build);
  *   run 0    the first `graft run` in the fresh session (cold);
  *   warm-up  `warmupRuns` runs, checked, not measured;
  *   steady   runs until `--seconds` of pipeline time have been measured,
  *            at least `minSteadyRuns`.
  *
  * Every run's output is checked; a failed check counts its operations as
  * failed. With `--trace 1` steady runs alternate untraced and traced
  * (see [[Traced]]) and the report holds the per-layer metrics. The JSON
  * report goes to `--result`. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, result: String, spans: Option[String])

  /** Set-up repetitions; `setup_s` takes the median. */
  val SetupReps = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("work"), need("result"), m.get("spans"))
  }

  def session(work: String): SparkSession =
    SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      // the session `graft run` builds (cli.Main), plus scratch dirs kept in the work dir
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--fingerprints")) { Fingerprints.main(args.tail); return }
    val o = parse(args)
    val report = new Bench(o).run()
    Files.write(Paths.get(o.result), report.getBytes(StandardCharsets.UTF_8))
  }
}

/** One micro-batch's progress report; `durations` in ms by phase. */
final case class MicroBatch(queryId: String, batchId: Long, start: Double, durations: Map[String, Long],
    rows: Long) {
  def dur(k: String): Double = durations.getOrElse(k, 0L) / 1e3
  def trigger: Double = dur("triggerExecution")
}

/** Micro-batch progress as a user sees it (`StreamingQuery.recentProgress`),
  * recorded for the whole session. The stream latency metrics and the
  * traced run's streaming metrics both read it. */
final class ProgressLog extends StreamingQueryListener {
  private val started = mutable.Map[String, Double]()
  private val batches = mutable.ArrayBuffer[MicroBatch]()
  private def epoch(ts: String) = java.time.Instant.parse(ts).toEpochMilli / 1e3
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    started(e.id.toString) = epoch(e.timestamp)
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += MicroBatch(p.id.toString, p.batchId, epoch(p.timestamp),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Batches recorded so far; `since(size)` later gives the ones after. */
  def size: Int = synchronized(batches.size)
  def since(mark: Int): Vector[MicroBatch] = synchronized(batches.drop(mark).toVector)

  /** (first commit latency from query start, per-batch trigger walls) of
    * the one query that started inside [t0, t1]. Batches without input
    * rows are not micro-batches of the backlog. */
  def commits(t0: Double, t1: Double): (Double, Seq[Double]) = synchronized {
    val q = started.filter { case (_, s) => s >= t0 - 1 && s <= t1 }.toVector
    require(q.size == 1, s"expected one streaming query in the run, saw ${q.size}")
    val (id, start) = q.head
    val bs = batches.filter(b => b.queryId == id && b.rows > 0).sortBy(_.batchId)
    require(bs.nonEmpty, "the streaming query reported no micro-batch")
    (bs.head.start + bs.head.trigger - start, bs.map(_.trigger).toVector)
  }
}

final class Bench(o: Main.Opts) {
  private val work = o.work
  private val in = s"$work/in"
  private val born = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f $s")
  private def now(): Double = System.nanoTime() / 1e9

  case class RunRec(wall: Double, firstCommit: Double, commits: Seq[Double], check: Check, ops: Int)

  def run(): String = {
    val t = now()
    val spark = Main.session(work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = now() - t
    val w = Workload(o.workload, o.seed)
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    // ---- set-up, repeated; the inputs of the last repetition are measured
    val genS = mutable.ArrayBuffer[Double]()
    val buildS = mutable.ArrayBuffer[Double]()
    (0 until Main.SetupReps).foreach { i =>
      Workload.deleteTree(in)
      val t0 = now()
      w.generate(spark, in)
      genS += now() - t0
      val t1 = now()
      w.build(spark, in)
      buildS += now() - t1
      log(f"set-up $i: generate ${genS.last}%.2f s, build ${buildS.last}%.2f s")
    }
    val t2 = now()
    spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
    val warmS = now() - t2
    val setupS = sessionS + Stats.median(genS.toSeq) + warmS + Stats.median(buildS.toSeq)
    val print = w.fingerprint(spark, in)
    log(f"set-up ${setupS}%.2f s (session $sessionS%.2f, warm-up $warmS%.2f); fingerprint $print")

    // ---- measured runs
    val runs = mutable.ArrayBuffer[RunRec]()
    val tracedRuns = mutable.ArrayBuffer[RunRec]()
    val layerReps = mutable.ArrayBuffer[Map[String, Double]]()
    val traced = if (o.trace) Some(new Traced(spark, w, in, progress)) else None
    var spansOut = ""

    def untraced(i: Int): RunRec = {
      val run = s"$work/run-$i"
      val cold = i == 0
      val toml = w.prepare(spark, in, run, cold)
      val t0 = System.currentTimeMillis() / 1e3
      val s0 = now()
      Workload.runPipeline(spark, toml)
      val wall = now() - s0
      val t1 = System.currentTimeMillis() / 1e3
      val (first, commits) =
        if (w.streaming) {
          org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
          progress.commits(t0, t1)
        } else (firstCommit(w.sinkDirs(run), t0), Seq(wall))
      if (i == 0) { w.reference(spark, in, run); log("reference done") }
      val c = w.check(spark, in, run, cold)
      val perBatch = if (w.streaming) commits.map(b => f"$b%.2f").mkString(" (batches ", " ", ")") else ""
      log(f"run $i: wall $wall%.3f s$perBatch, ${if (c.ok) "ok" else "FAILED"}: ${c.detail}")
      Workload.deleteTree(run)
      RunRec(wall, first, commits, c, w.ops(cold))
    }

    runs += untraced(0)
    val warm = (1 to w.warmupRuns).map(untraced)
    val first = 1 + w.warmupRuns
    var i = first
    // the window counts pipeline time only (checks run outside it), in
    // whole runs: another starts while it is expected to end inside the
    // window (10 % grace); at least the workload's minimum of steady runs
    // (traced: one untraced/traced pair)
    val minRuns = if (traced.isEmpty) w.minSteadyRuns else 1
    def measured = runs.drop(1).map(_.wall).sum + tracedRuns.map(_.wall).sum
    def more(): Boolean = {
      val done = i - first
      done < minRuns || measured * (done + 1) / done <= o.seconds * 1.1
    }
    traced match {
      case None =>
        while (more()) { runs += untraced(i); i += 1 }
      case Some(tr) =>
        while (more()) {
          runs += untraced(i); i += 1
          val (wall, layers, spans, c) = tr.run(s"$work/run-$i")
          i += 1
          layerReps += layers
          spansOut = spans
          tracedRuns += RunRec(wall, 0, Nil, c, w.ops(cold = false))
        }
    }

    val steady = runs.drop(1).toVector
    val all = runs.toVector ++ warm ++ tracedRuns
    val failedRuns = all.count(!_.check.ok)
    val attempted = all.map(_.ops.toLong).sum
    val failed = all.filterNot(_.check.ok).map(_.ops.toLong).sum
    val ok0 = steady.head.check
    val wall = Stats.median(steady.map(_.wall))
    // a stream's batches are its micro-batches (batch 0 of every drain is the
    // first-batch metric, not a steady batch); a batch pipeline's are its runs
    val pool = steady.flatMap(r => if (w.streaming) r.commits.drop(1) else r.commits)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("first_run_s", runs.head.wall, "s"),
      ("wall_s", wall, "s"),
      ("rows_per_s", w.inputRows / wall, "rows/s"),
      ("first_batch_s", Stats.median(steady.map(_.firstCommit)), "s"),
      ("batch_s_p50", Stats.median(pool), "s"),
      // the tail percentile is part of the name: a stream run has 6 steady
      // micro-batches, so no percentile has 10 samples beyond it, and a
      // higher one would read the run's single slowest batch
      ("batch_s_p75", Stats.percentile(pool, 75), "s"),
      ("dup_recall", ok0.dupHit.toDouble / ok0.dupTruth, "ratio"),
      ("dup_precision", if (ok0.removed == 0) 1.0 else ok0.dupHit.toDouble / ok0.removed, "ratio"))

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => e2e
      case Some(tr) =>
        val keys = layerReps.head.keys.toVector.sorted
        keys.map(k => (k, Stats.median(layerReps.map(_(k)).toSeq), Traced.unit(k))) ++ Seq(
          ("config.parse_ms", tr.parseMs(), "ms"),
          ("trace.overhead_s", Stats.median(tracedRuns.map(_.wall).toSeq) - wall, "s")) ++
          tr.kernels()
    }
    o.spans.foreach(p => if (spansOut.nonEmpty)
      Files.write(Paths.get(p), spansOut.getBytes(StandardCharsets.UTF_8)))
    traced.foreach(tr => tr.layerTable.foreach(log))

    val correct = failedRuns == 0
    val notes = Seq(
      "error_rate" -> Json.num(failed.toDouble / attempted),
      "steady_runs" -> steady.size.toString,
      "batch_samples" -> pool.size.toString,
      "input_rows" -> w.inputRows.toString,
      "fingerprint" -> Json.str(print),
      "check" -> Json.str(ok0.detail))
    spark.stop()
    log("session stopped")
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "notes" -> Json.obj(notes)))
  }

  /** Time to the first result of a batch run: its first sink's
    * `_SUCCESS` lands when that sink's job commits. */
  private def firstCommit(dirs: Seq[String], t0: Double): Double =
    Files.getLastModifiedTime(Paths.get(dirs.head, "_SUCCESS"))
      .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e6 - t0
}

/** `--fingerprints --workload W --seeds A-B --work DIR`: generate each
  * seed's inputs and print one `seed fingerprint` line per seed — the
  * table `fingerprints.json` records. */
object Fingerprints {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val Array(a, b) = m("seeds").split("-").map(_.toLong)
    val spark = Main.session(m("work"))
    spark.sparkContext.setLogLevel("WARN")
    (a to b).foreach { seed =>
      val in = s"${m("work")}/in-$seed"
      val w = Workload(m("workload"), seed)
      w.generate(spark, in)
      println(s"FINGERPRINT $seed ${w.fingerprint(spark, in)}")
      Workload.deleteTree(in)
    }
    spark.stop()
  }
}
