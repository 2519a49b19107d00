package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}

import graft.config.{CBool, Cfg, PipelineConfig}
import graft.core.{DagCompiler, Registry, StageContext, StageKind}

/** The traced run: the same pipeline as `DagCompiler.run`, driven one
  * layer at a time through each layer's public entry point —
  * `PipelineConfig.fromString` + `Registry.forPipeline`,
  * `DagCompiler.compilePlans` with its `onStage` hook, then each sink
  * stage's `Stage.apply` — with a [[Tracer]] recording spans around every
  * call and the listener events under them. The sequence mirrors
  * `DagCompiler.run` (conf, sink order, streaming await, success-deferred
  * actions, cleanups), and its output passes the same check. */
final class Traced(spark: SparkSession, w: Workload, in: String, progress: ProgressLog) {
  private val tracer = new Tracer(spark, progress)
  tracer.install()
  var layerTable: Seq[String] = Nil

  def run(dir: String): (Double, Map[String, Double], String, Check) = {
    val toml = w.prepare(spark, in, dir, cold = false)
    tracer.reset()
    tracer.recording = true
    var composeId = 0
    var fanoutBytes = 0L
    val t0 = tracer.now()
    tracer.span("graft run", "pipeline") {
      val (pc, registry) = tracer.span("PipelineConfig.fromString", "config") {
        val pc = PipelineConfig.fromString(toml)
        (pc, Registry.forPipeline(pc))
      }
      val compiler = new DagCompiler(registry)
      pc.validate()
      compiler.toposortCheck(pc)
      pc.global.shufflePartitions.foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n.toString))
      pc.global.sparkConf.foreach { case (k, v) => spark.conf.set(k, v) }
      val deferred = mutable.Buffer[() => Unit]()
      val cleanups = mutable.Buffer[() => Unit]()
      val streaming = pc.global.executionMode == "streaming"
      var plans = Map.empty[String, DataFrame]
      try {
        plans = tracer.span("DagCompiler.compilePlans", "core") {
          composeId = tracer.openSpan
          compiler.compilePlans(spark, pc, defer = a => deferred += a, cleanup = a => cleanups += a,
            onStage = (id, fn, s) => {
              val e = tracer.now()
              tracer.add(s"stage $id ($fn)", "core.stage", tracer.openSpan, e - s, e)
            })
        }
        val before = spark.streams.active.map(_.id).toSet
        pc.stages.foreach { st =>
          val stage = registry.resolve(st.function)
          if (stage.kind == StageKind.Sink) {
            val cfg = if (streaming) Cfg(st.config.table + ("_defer_await" -> CBool(true))) else st.config
            tracer.span(s"sink ${st.id} (${st.function})", "sinks") {
              stage(StageContext(spark, st.inputs.map(i => i -> plans(i)), cfg, st.id))
            }
          }
        }
        if (streaming) tracer.span("await streaming queries", "sinks") {
          spark.streams.active.filterNot(q => before.contains(q.id)).foreach(_.awaitTermination())
        }
        deferred.foreach(_())
      } finally {
        fanoutBytes = fanoutCacheBytes(pc, plans)
        cleanups.foreach(_())
      }
    }
    val t1 = tracer.now()
    tracer.drain()
    tracer.recording = false
    val check = w.check(spark, in, dir, cold = false)
    val layers = perLayer(dir, t0, t1, composeId, fanoutBytes) +
      ("operators.rows_removed" -> check.removed.toDouble)
    tracer.materialize()
    val self = tracer.selfByLayer()
    layerTable = Seq(f"traced run ${t1 - t0}%.3f s; self time by layer:") ++
      self.toVector.sortBy(-_._2).map { case (l, s) => f"  $l%-26s $s%9.3f s" }
    val spans = tracer.spansJson(t0)
    Workload.deleteTree(dir)
    (t1 - t0, layers, spans, check)
  }

  /** Bytes held by the fan-out persists (stages read by more than one
    * stage) when the sinks are done, from the cache manager. */
  private def fanoutCacheBytes(pc: PipelineConfig, plans: Map[String, DataFrame]): Long = {
    val outDegree = pc.stages.flatMap(_.inputs).groupBy(identity).map { case (k, v) => k -> v.size }
    pc.stages.filter(s => outDegree.getOrElse(s.id, 0) > 1).flatMap(s => plans.get(s.id)).map { df =>
      spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .map(_.cachedRepresentation.cacheBuilder.sizeInBytesStats.value.longValue).getOrElse(0L)
    }.sum[Long]
  }

  private def mb(b: Double) = b / (1024.0 * 1024.0)

  private def perLayer(dir: String, t0: Double, t1: Double, composeId: Int,
      fanoutBytes: Long): Map[String, Double] = {
    val jobs = tracer.jobs.filterNot(_.end.isNaN).toVector
    val tasks = tracer.tasks.toVector
    val stages = tracer.stages.toVector
    val slowest = stages.sortBy(s => s.start - s.end).headOption
    val skew = slowest.map { s =>
      val d = tasks.filter(_.stageId == s.id).map(_.durationMs.toDouble)
      if (d.isEmpty || Stats.median(d) == 0) 1.0 else d.max / Stats.median(d)
    }.getOrElse(1.0)
    val phases = tracer.qes.toVector.flatMap(_.tracker.phases.toVector)
    def phase(p: String) = phases.filter(_._1 == p).map(_._2.durationMs).sum / 1e3

    // similarity stack, from the executed plans' SQL metrics
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      if (seen.containsKey(p)) Nil
      else {
        seen.put(p, ())
        p match {
          case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
          case q: QueryStageExec => nodes(q.plan)
          case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
          case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
        }
      }
    val all = tracer.qes.toVector.flatMap(q => nodes(q.executedPlan))
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    def joinKeys(p: SparkPlan): Seq[String] = p match {
      case h: HashJoin => h.leftKeys.flatMap(_.references.map(_.name))
      case s: SortMergeJoinExec => s.leftKeys.flatMap(_.references.map(_.name))
      case _ => Nil
    }
    val candidates = all.filter(p => joinKeys(p).contains("band_idx")).map(rows).sum
    // the exact-Jaccard verify: a filter, or a join condition once
    // Catalyst pushes the filter into the re-attach join
    def similarity(e: Expression) = e.exists(x => x.getClass.getName.startsWith("graft.functions.") &&
      x.getClass.getSimpleName.contains("Jaccard"))
    val verified = all.collect {
      case f: FilterExec if similarity(f.condition) => rows(f)
      case h: HashJoin if h.condition.exists(similarity) => rows(h)
      case j: SortMergeJoinExec if j.condition.exists(similarity) => rows(j)
    }.sum

    // streaming, from micro-batch progress and the jobs tagged with a batch id
    val bs = tracer.batches.filter(_.rows > 0)
    val jobsPerBatch = jobs.flatMap(_.batch).groupBy(identity).values.map(_.size.toDouble).toSeq
    val batchGap = bs.map { b =>
      val end = b.start + b.trigger
      val inBatch = jobs.filter(j => j.start >= b.start - 1e-3 && j.end <= end + 1e-3)
      math.max(0.0, tracer.noJobTime(b.start, end, inBatch) - (b.trigger - b.dur("addBatch")))
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    val (outFiles, outBytes) = w.sinkDirs(dir).map(Workload.dataFiles)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val (indexFiles, indexBytes) = w.indexDir(dir)
      .map(Workload.files(_, _.endsWith(".parquet"))).getOrElse((0L, 0L))
    // the data an index is built from: every input but the prebuilt index
    val inputBytes = (Workload.files(in, _ => true)._2 - Workload.files(s"$in/index", _ => true)._2).toDouble

    val sinkS = tracer.spans.filter(_.layer == "sinks").map(_.dur).sum
    val composeS = tracer.spans.find(_.id == composeId).map(_.dur).getOrElse(0.0)
    Map(
      "core.compose_s" -> composeS,
      "core.eager_jobs" -> jobs.count(_.parent == composeId).toDouble,
      "core.fanout_cache_mb" -> mb(fanoutBytes.toDouble),
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.driver_gap_s" -> tracer.noJobTime(t0, t1, jobs),
      "spark.executor_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.scan_mb" -> mb(tasks.map(_.inBytes).sum.toDouble),
      "spark.shuffle_write_mb" -> mb(tasks.map(_.shWrite).sum.toDouble),
      "spark.shuffle_read_mb" -> mb(tasks.map(_.shRead).sum.toDouble),
      "spark.spill_mb" -> mb(tasks.map(_.spill).sum.toDouble),
      "spark.peak_exec_mem_mb" -> mb(if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max.toDouble),
      "spark.task_skew" -> skew,
      "operators.candidate_pairs" -> candidates,
      "operators.verified_pairs" -> verified,
      "operators.verify_yield" -> (if (candidates == 0) 0.0 else verified / candidates),
      "streaming.batches" -> bs.size.toDouble,
      "streaming.add_batch_s" -> med(bs.map(_.dur("addBatch"))),
      "streaming.trigger_overhead_s" -> med(bs.map(b => b.trigger - b.dur("addBatch"))),
      "streaming.batch_driver_gap_s" -> med(batchGap),
      "streaming.jobs_per_batch" -> med(jobsPerBatch),
      "core.index_files" -> indexFiles.toDouble,
      "core.index_bytes_per_input_byte" -> indexBytes / inputBytes,
      "sinks.write_s" -> sinkS,
      "sinks.output_mb" -> mb(outBytes.toDouble),
      "sinks.output_files" -> outFiles.toDouble)
  }

  /** `PipelineConfig.fromString` + `Registry.forPipeline`, median of 25. */
  def parseMs(): Double = {
    val toml = w.prepare(spark, in, s"$in/../parse-only", cold = false)
    Workload.deleteTree(s"$in/../parse-only")
    Stats.median((0 until 25).map { _ =>
      val t0 = System.nanoTime()
      Registry.forPipeline(PipelineConfig.fromString(toml))
      (System.nanoTime() - t0) / 1e6
    })
  }

  /** The minhash signature kernel over the workload's text input into a
    * noop sink (median of 3); 0 where the workload has no text column. */
  def kernels(): Seq[(String, Double, String)] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def time(df: => DataFrame): Double = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    val minhash = w.kernelInput(in).map(p => time(spark.read.parquet(p).select(
      graft.operators.Shingles.minhashSignature(
        graft.operators.Shingles.shingleHashes(F.col("text"), 3), 128, 42L)))).getOrElse(0.0)
    Seq(("functions.minhash_sig_s", minhash, "s"))
  }
}

object Traced {
  def unit(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_ms")) "ms" else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("yield") || k.endsWith("skew") || k.endsWith("per_input_byte")) "ratio"
    else "count"
}
