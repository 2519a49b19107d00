package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.config._
import scala.collection.mutable

/** Compiles the stage DAG into composed DataFrame plans and runs actions at
  * the sinks — the fundamental redesign vs the reference, which interprets
  * the DAG stage-by-stage with eager per-stage materialization on three
  * tokio executors (src/core/dag_executor.rs:130-256, 517-903, 1403-1520).
  *
  * Here:
  *  - each stage's output is a MEMOIZED *logical plan*; the whole pipeline
  *    is one Catalyst tree per sink, so pushdown/pruning/codegen cross
  *    stage boundaries;
  *  - fan-out (out-degree > 1) persists at MEMORY_AND_DISK instead of the
  *    reference's whole-DataFrame clone per consumer
  *    (dag_executor.rs:170-177), and unpersists after the run;
  *  - actions happen only at sink stages (terminal or explicit);
  *  - error handling implements the DECLARED reference semantics for real:
  *    Stop aborts, Continue skips the failing stage's sinks, Retry re-runs
  *    the action with delay (the reference declares Retry+DLQ but never
  *    calls them — strategy.rs:32-89 dead code, SURVEY §1.3).
  */
final class DagCompiler(registry: Registry) {

  def run(spark: SparkSession, pc: PipelineConfig): Map[String, DataFrame] = {
    pc.validate()
    toposortCheck(pc)
    pc.global.shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    pc.global.sparkConf.foreach { case (k, v) => spark.conf.set(k, v) }

    // global.timeout_seconds (reference pipeline.rs:93-117): abort the whole
    // run past the deadline. Enforced only when EXPLICITLY configured — the
    // reference's silent 300 s default would kill any legitimately long job,
    // which at 100 TB is every job (documented deviation).
    pc.global.raw.longOpt("timeout_seconds") match {
      case None      => runBody(spark, pc)
      case Some(sec) =>
        // per-run nonce, NOT a stable hash of pc: cancelJobGroupAndFutureJobs
        // registers the group id in the scheduler's cancelled set, so a
        // re-run of the same config object under a reused id would have its
        // jobs auto-cancelled at submission
        val group = s"graft-${pc.name}-${java.util.UUID.randomUUID()}"
        val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
        import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
        val fut = Future {
          // job group is thread-local: tag inside the worker thread so a
          // timeout can cancel exactly this pipeline's Spark jobs
          spark.sparkContext.setJobGroup(group, s"pipeline ${pc.name}", interruptOnCancel = true)
          try runBody(spark, pc, cancelled = cancelled.get _)
          finally spark.sparkContext.clearJobGroup()
        }(ExecutionContext.global)
        try Await.result(fut, scala.concurrent.duration.Duration(sec, "s"))
        catch { case _: TimeoutException =>
          // flag FIRST so the still-running body cannot fire deferred side
          // effects (offset commits, compact swaps) after we report
          // cancellation; AndFutureJobs marks the group id cancelled in the
          // scheduler, so sinks the body submits AFTER this call — and even
          // a setJobGroup that races past the cancel — are killed too,
          // where plain cancelJobGroup only reaped jobs active this instant
          cancelled.set(true)
          spark.sparkContext.cancelJobGroupAndFutureJobs(group)
          throw new GraftPlanError(
            s"pipeline '${pc.name}' exceeded timeout_seconds = $sec and was cancelled")
        }
    }
  }

  private def runBody(spark: SparkSession, pc: PipelineConfig,
      cancelled: () => Boolean = () => false): Map[String, DataFrame] = {

    // side effects registered via ctx.deferToSuccess (e.g. kafka.consume's
    // group-offset commit) queue here and fire only after every sink action
    // succeeds — a failed pipeline leaves the consumer frontier untouched,
    // so the next run re-delivers the batch (at-least-once). Under
    // error_strategy=continue a swallowed sink failure ALSO suppresses the
    // queue: the failed sink never durably wrote its rows, and committing
    // the source frontier anyway would lose them permanently. A timeout
    // cancellation suppresses it too (`cancelled`): the caller has already
    // been told the pipeline failed, so firing commits afterwards would
    // contradict that report.
    val deferred = mutable.Buffer[() => Unit]()
    // resource releases (cache unpersists) registered via ctx.deferToCleanup
    // run in the finally below — success, sink failure, timeout, or abort:
    // a failed run must not leak a pinned batch for the session lifetime
    val cleanups = mutable.Buffer[() => Unit]()
    var sinkFailed = false
    // compilePlans runs INSIDE the try: a compose-time failure (config
    // error in a later stage) after earlier stages persisted caches —
    // fan-out pins, eagerly-materialized operator pins — must still drain
    // the cleanups queue, or those caches leak for the session lifetime.
    // (compilePlans registers its fan-out unpersists in the same queue.)
    val results = mutable.LinkedHashMap[String, DataFrame]()
    try {
      val plans = compilePlans(spark, pc, defer = action => deferred += action,
        cleanup = action => cleanups += action)

      // execution_mode = "streaming": stream sinks start their query and
      // return immediately (_defer_await); we await them all together below —
      // N concurrent StreamingQueries under one deadline, vs batch mode's
      // one-sink-at-a-time await inside stream.write itself.
      val streamingMode = pc.global.executionMode == "streaming"
      val preExisting = spark.streams.active.map(_.id).toSet

      // actions: run every sink stage (a sink already executed its side
      // effect lazily inside apply? No — sinks run on invocation, which
      // happens during compile for sinks. To keep compile pure, sink stages
      // are deferred: compilePlans wraps them; we trigger here.)
      pc.stages.foreach { st =>
        val stage = registry.resolve(st.function)
        if (stage.kind == StageKind.Sink) {
          val inputDfs = st.inputs.map(in => in -> plans(in))
          val cfg = if (streamingMode)
            Cfg(st.config.table + ("_defer_await" -> CBool(true)))
          else st.config
          runWithStrategy(pc, st.id, inputDfs.headOption.map(_._2),
            onSwallowedFailure = () => sinkFailed = true) {
            RowGuard.raising(stage(StageContext(spark, inputDfs, cfg, st.id)))
          }
        }
        results(st.id) = plans(st.id)
      }
      if (streamingMode) {
        val ours = spark.streams.active.filterNot(q => preExisting.contains(q.id))
        pc.global.raw.longOpt("stream_timeout_ms") match {
          case Some(ms) =>
            val deadline = System.currentTimeMillis() + ms
            ours.foreach { q =>
              val rem = deadline - System.currentTimeMillis()
              if (rem > 0) q.awaitTermination(rem)
            }
            ours.filter(_.isActive).foreach(_.stop())
          case None => ours.foreach(_.awaitTermination())
        }
      }
      if (!sinkFailed && !cancelled()) deferred.foreach(_())
    } finally {
      cleanups.foreach(c => try c() catch { case e: Exception =>
        System.err.println(s"[graft] cleanup failed: ${e.getMessage}") })
    }
    results.toMap
  }

  /** Pure plan composition: transforms/sources compose lazily; sink stages
    * contribute their input plan (pass-through) without side effects.
    *
    * Fan-out stages (out-degree > 1, non-streaming) persist at
    * MEMORY_AND_DISK HERE, not in run(): a downstream stage may evaluate
    * its input EAGERLY at compose time (bpe.train's bounded vocab collect,
    * index.build), and without the cache already in place that evaluation
    * plus the final sink action would run the shared upstream chain once
    * per consumer. persist() is lazy, so plain compositions pay nothing.
    *
    * `explainOnly = true` (the CLI `explain` command) additionally tells
    * materialization-barrier transforms — stages that execute eagerly at
    * compose time, like index.build — to skip their side effect: stage
    * configs gain `_explain_only = true` and the affected stage documents
    * the placeholder behavior (no persist either — explain shows the raw
    * plan, not InMemoryRelation wrappers). */
  def compilePlans(spark: SparkSession, pc: PipelineConfig,
      explainOnly: Boolean = false,
      defer: (() => Unit) => Unit = StageContext.RunNow,
      cleanup: (() => Unit) => Unit = StageContext.KeepPinned,
      /** Called after each stage composes: (stage id, function, seconds).
        * Compose time is where EAGER stages (bpe.train's vocab jobs,
        * decontaminate's bloom build, index probes' pins) do real work —
        * this hook is what attributes a slow pipeline compile to its
        * stages (bench phase splits; a profiler could subscribe too). */
      onStage: (String, String, Double) => Unit = (_, _, _) => ()): Map[String, DataFrame] = {
    val outDegree = fanOut(pc)
    val memo = mutable.Map[String, DataFrame]()
    // one claim set per compile = per pipeline run: single-writer resources
    // (index_append paths) are claimed at PLAN time, so `explain` rejects a
    // double-appender pipeline as loudly as `run` does
    val claims = mutable.Set[String]()
    def plan(id: String): DataFrame = memo.getOrElseUpdate(id, {
      val st = pc.stageById(id).getOrElse(throw new GraftPlanError(s"unknown stage '$id'"))
      val stage = registry.resolve(st.function)
      val inputDfs = st.inputs.map(in => in -> plan(in))
      if (stage.kind == StageKind.Sink) {
        // side effect deferred to run(); plan is the pass-through input
        inputDfs.headOption.map(_._2).getOrElse(
          throw new GraftPlanError(s"sink stage '$id' has no input"))
      } else {
        val cfg = if (explainOnly)
          graft.config.Cfg(st.config.table + ("_explain_only" -> graft.config.CBool(true)))
        else st.config
        val t0 = System.nanoTime()
        // a row-guard failure (RowGuard.failIf) of a job a stage runs, here
        // or at a sink below, surfaces as the GraftConfigError it carries
        val df = RowGuard.raising(stage(StageContext(spark, inputDfs, cfg, st.id,
          deferToSuccess = defer, deferToCleanup = cleanup, claims = claims)))
        onStage(st.id, st.function, (System.nanoTime() - t0) / 1e9)
        if (outDegree(st.id) > 1 && !df.isStreaming && !explainOnly) {
          df.persist(StorageLevel.MEMORY_AND_DISK)
          // release registered HERE, not after compilePlans returns: a
          // compose-time failure in a LATER stage must still drop this
          // cache when the surrounding run's finally drains the queue
          cleanup(() => df.unpersist(blocking = false))
        }
        df
      }
    })
    pc.stages.foreach(st => plan(st.id))
    memo.toMap
  }

  /** Static out-degree per stage id (streaming frames never persist —
    * their replay is the checkpoint's job, so fan-out on a stream is free). */
  private def fanOut(pc: PipelineConfig): collection.Map[String, Int] = {
    val outDegree = mutable.Map[String, Int]().withDefaultValue(0)
    pc.stages.foreach(_.inputs.foreach(in => outDegree(in) += 1))
    outDegree
  }

  /** Kahn toposort for cycle detection (reference dag_executor.rs:117-127). */
  def toposortCheck(pc: PipelineConfig): Unit = {
    val indeg = mutable.Map[String, Int]()
    val adj = mutable.Map[String, List[String]]().withDefaultValue(Nil)
    pc.stages.foreach { s => indeg(s.id) = s.inputs.size }
    pc.stages.foreach(s => s.inputs.foreach(in => adj(in) = s.id :: adj(in)))
    val q = mutable.Queue(pc.stages.filter(_.inputs.isEmpty).map(_.id): _*)
    var seen = 0
    while (q.nonEmpty) {
      val id = q.dequeue(); seen += 1
      adj(id).foreach { nxt => indeg(nxt) -= 1; if (indeg(nxt) == 0) q.enqueue(nxt) }
    }
    if (seen != pc.stages.size)
      throw new GraftPlanError("pipeline DAG contains a cycle")
  }

  /** Stop | Continue | Retry — implemented for real, with a working
    * dead-letter queue (the reference declares Retry + DLQ but never calls
    * either — strategy.rs:32-89 dead code, SURVEY §1.3). On a terminal
    * failure under Continue (or Retry exhausted with `continue_after_retry`)
    * the failing sink's INPUT frame is quarantined as parquet under
    * `<dlq>/<stageId>/` next to an `_error.txt` with the cause —
    * badRecordsPath-style. */
  private def runWithStrategy(pc: PipelineConfig, stageId: String,
                              input: Option[DataFrame],
                              onSwallowedFailure: () => Unit = () => ())(action: => Unit): Unit = {
    def quarantine(e: Exception): Unit =
      pc.errorHandling.deadLetterQueue.foreach { dlq =>
        try {
          input.foreach(_.write.mode("overwrite").parquet(s"$dlq/$stageId"))
          GraftFs.mkdirs(s"$dlq/$stageId")
          GraftFs.writeString(s"$dlq/$stageId/_error.txt",
            s"stage: $stageId\nerror: ${e.getMessage}\n")
          System.err.println(s"[graft] stage '$stageId' input quarantined to $dlq/$stageId")
        } catch { case q: Exception =>
          System.err.println(s"[graft] DLQ write for '$stageId' failed: ${q.getMessage}")
        }
      }
    pc.errorHandling.strategy match {
      case ErrorStrategy.Stop => action
      case ErrorStrategy.Continue =>
        try action catch {
          case e: Exception =>
            System.err.println(s"[graft] stage '$stageId' failed (continue): ${e.getMessage}")
            quarantine(e)
            onSwallowedFailure()
        }
      case ErrorStrategy.Retry(maxRetries, delaySec) =>
        var attempt = 0
        var done = false
        while (!done) {
          try { action; done = true } catch {
            case e: Exception =>
              attempt += 1
              if (attempt > maxRetries) {
                quarantine(e)
                throw new GraftPlanError(
                  s"stage '$stageId' failed after $maxRetries retries: ${e.getMessage}")
              }
              System.err.println(s"[graft] stage '$stageId' attempt $attempt failed, retrying in ${delaySec}s: ${e.getMessage}")
              Thread.sleep(delaySec * 1000L)
          }
        }
    }
  }
}

object DagCompiler {
  def default: DagCompiler = new DagCompiler(Registry.withDefaults)
}
