package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config._
import graft.core._

/** mix.apply — weighted domain mixing: union N corpora with a sampling
  * weight per input, the dataset-composition step every pre-training
  * recipe publishes (The Pile's source weights, DoReMi's learned domain
  * weights). `weights[i]` is the expected number of copies of each row
  * of input i: 0.3 keeps ~30% of rows, 2.0 repeats every row twice,
  * 2.5 repeats twice and keeps a further ~50% a third time.
  *
  * Determinism: the fractional part is decided by xxhash64(seed, row),
  * not rand() — the mix is a pure function of (seed, data), stable
  * across retries, re-runs and partition layouts, and integer weights
  * are exactly integer copies (which is what makes the oracle able to
  * state them). Caveat of content hashing: byte-identical duplicate rows
  * keep or drop TOGETHER, biasing the realized fraction on duplicate-heavy
  * corpora — set `id_column` to hash a per-row identity instead (ids
  * differ, duplicates decide independently; still retry-stable).
  * `source_column` (default none) tags provenance with `sources[i]` names
  * or the input index, and refuses to shadow an existing column. Inputs
  * union by name; `allow_missing_columns` fills gaps with nulls.
  *
  * Scale shape: per input one filter/explode projection — no shuffle,
  * no driver collection; upsampling materializes copies only in the
  * plan (posexplode of a sequence), so a 100× upweight costs writes,
  * not state.
  *
  * `temperature = α` (mutually exclusive with `weights`) derives the
  * weights from the measured source sizes instead — the T5/mT5/XLM-R
  * temperature-sampling recipe: p_i ∝ n_i^α (α = 1 keeps natural
  * proportions, α → 0 equalizes sources, the published sweet spots sit
  * at α ∈ [0.2, 0.7]), scaled so the expected output totals
  * `target_rows` (default: the input total, a same-size remix). Per-row
  * expected copies are w_i = p_i · target_rows / n_i. Sizing the
  * sources is a compose-time barrier, but when an input is a PURE file
  * scan (only row-preserving Project/alias nodes over one parquet
  * relation — the common "mix these N parquet corpora" shape) the size
  * comes from the parquet FOOTERS on the driver (the IngestMetrics
  * pattern: O(files) metadata reads, zero Spark jobs); only inputs with
  * filters/joins/generators upstream pay a count() job. The counts are
  * O(1) driver state either way.
  */
object MixOp extends Stage {
  val name = "mix.apply"
  val kind = StageKind.Transform

  /** Pure weight derivation, spec-testable: expected per-row copies per
    * source from sizes, temperature, and the output-size target. Empty
    * sources get weight 0 (they have no rows to emit anyway, and 0^α
    * must not poison the partition function at α = 0). */
  private[graft] def temperatureWeights(sizes: Vector[Long], alpha: Double,
      targetRows: Double): Vector[Double] = {
    val z = sizes.filter(_ > 0).map(n => math.pow(n.toDouble, alpha)).sum
    if (z == 0.0) Vector.fill(sizes.size)(0.0)
    else sizes.map { n =>
      if (n <= 0) 0.0
      else {
        val w = math.pow(n.toDouble, alpha) / z * targetRows / n.toDouble
        // snap ε-of-an-integer weights to the integer: α = 1 with a
        // target that is an exact multiple yields integer-intent weights
        // up to float division error, and a fractional draw at frac ≈ 1e-12
        // is noise — snapping keeps those cases exactly-N copies (the
        // same determinism property explicit integer weights have)
        val r = math.rint(w)
        if (math.abs(w - r) < 1e-9) r else w
      }
    }
  }

  /** Row count from parquet footers, for inputs whose plan is a pure
    * file scan: only cardinality-preserving nodes (Project, subquery
    * aliases) over exactly one V1 parquet relation with no pushed state.
    * Anything else — a Filter, a Generate, a join, a non-parquet or V2
    * source — returns None and the caller falls back to count(). Footer
    * reads are driver-side metadata (no Spark job); any read failure
    * also falls back rather than guessing. */
  private[graft] def scanRowCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @scala.annotation.tailrec
    def unwrap(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
          if fs.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] => Some(fs)
        case _ => None
      }
      case Project(_, child)         => unwrap(child)
      case SubqueryAlias(_, child)   => unwrap(child)
      case _ => None
    }
    unwrap(df.queryExecution.analyzed).flatMap { fs =>
      try Some(IndexSnapshot.footerRows(fs.location.inputFiles.toSeq))
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  def apply(ctx: StageContext): DataFrame = {
    val cfg = ctx.cfg
    if (ctx.inputs.size < 1)
      throw new GraftPlanError("mix.apply requires at least one input")
    if (cfg.has("weights") && cfg.has("temperature"))
      throw new GraftConfigError(
        "mix.apply: give EITHER explicit weights OR temperature (derived " +
        "weights from measured source sizes), not both")
    if (cfg.has("target_rows") && !cfg.has("temperature"))
      throw new GraftConfigError(
        "mix.apply: target_rows only applies with temperature (explicit " +
        "weights already state expected copies per row)")
    val weights = cfg.doubleOpt("temperature") match {
      case Some(alpha) =>
        if (alpha < 0) throw new GraftConfigError(
          s"mix.apply: temperature must be >= 0, got $alpha")
        // compose-time barrier — footer-priced for pure parquet scans,
        // count() only where the plan actually transforms cardinality
        val sizes = ctx.inputs.map { case (_, df) =>
          scanRowCount(df).getOrElse(df.count())
        }.toVector
        val target = cfg.longOpt("target_rows").map(_.toDouble)
          .getOrElse(sizes.sum.toDouble)
        if (target < 0) throw new GraftConfigError(
          s"mix.apply: target_rows must be >= 0, got ${target.toLong}")
        temperatureWeights(sizes, alpha, target)
      case None => cfg.arrOpt("weights").map(_.map {
        case CDouble(v) => v
        case CLong(v)   => v.toDouble
        case other => throw new GraftConfigError(s"weights must be numbers, got ${other.render}")
      }).getOrElse(Vector.fill(ctx.inputs.size)(1.0))
    }
    if (weights.size != ctx.inputs.size)
      throw new GraftConfigError(
        s"mix.apply: ${weights.size} weights for ${ctx.inputs.size} inputs")
    weights.find(_ < 0).foreach(w =>
      throw new GraftConfigError(s"mix.apply: weights must be >= 0, got $w"))
    val seed = cfg.longOr("seed", 11L)
    val sourceCol = cfg.strOpt("source_column")
    val names = cfg.strListOr("sources", Vector.empty)
    if (names.nonEmpty && names.size != ctx.inputs.size)
      throw new GraftConfigError(
        s"mix.apply: ${names.size} source names for ${ctx.inputs.size} inputs")
    val allowMissing = cfg.boolOr("allow_missing_columns", false)
    val idCol = cfg.strOpt("id_column")

    sourceCol.foreach { c =>
      ctx.inputs.find(_._2.columns.contains(c)).foreach { case (id, _) =>
        throw new GraftConfigError(
          s"mix.apply: source_column '$c' already exists in input '$id' — pick another name")
      }
    }
    val mixed = ctx.inputs.zipWithIndex.map { case ((inId, df), i) =>
      val w = weights(i)
      val whole = math.floor(w).toLong
      val frac = w - whole
      idCol.filterNot(df.columns.contains).foreach(c =>
        throw new GraftConfigError(s"mix.apply: id_column '$c' not found in input '$inId'"))
      // u in [0,1): stable per (seed, input, id) — or per row CONTENT when
      // no id_column is given (duplicates then decide together, see above)
      val hashArgs = Seq(F.lit(seed), F.lit(i.toLong)) ++
        (idCol match {
          case Some(c) => Seq(F.col(c))
          case None    => df.columns.map(F.col).toSeq
        })
      val u = F.pmod(F.xxhash64(hashArgs: _*), F.lit(1L << 52)).cast("double") /
        (1L << 52).toDouble
      val copies = (F.lit(whole) + F.when(u < frac, 1L).otherwise(0L)).cast("int")
      val tagged = sourceCol match {
        case Some(c) => df.withColumn(c,
          F.lit(if (names.nonEmpty) names(i) else i.toString))
        case None => df
      }
      // n copies via one generator; n = 0 rows vanish (sequence(1,0) = [])
      tagged
        .withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .withColumn("__copy", F.explode(F.sequence(F.lit(1), F.col("__copies"))))
        .drop("__copies", "__copy")
    }
    mixed.reduce((a, b) => a.unionByName(b, allowMissing))
  }
}
