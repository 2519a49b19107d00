package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import graft.config._
import graft.core._
import scala.jdk.CollectionConverters._

/** Shared text→shingle machinery for the dedup family. Everything is
  * native Spark SQL functions (codegen'd, no UDFs in the hot path):
  * tokens → word n-gram shingles → xxhash64 shingle hashes.
  */
object Shingles {
  /** lowercase, collapse whitespace, split to words */
  def tokens(text: Column): Column =
    F.split(F.trim(F.regexp_replace(F.lower(text), "\\s+", " ")), " ")

  /** stable FNV-1a over a string — used by the single-pass shingle UDFs;
    * the specific hash does not matter for Jaccard (distinct counts are
    * hash-invariant modulo 64-bit collisions), only determinism does. */
  @inline def fnv1a(s: CharSequence): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** distinct hashes of word n-gram shingles — ONE pass per doc in a UDF
    * (the expression form re-walks the token array per shingle, interpreted). */
  def shingleHashes(text: Column, n: Int): Column = {
    val udf = F.udf { t: String =>
      if (t == null) Array.empty[Long]
      else {
        val toks = t.toLowerCase.trim.split("\\s+")
        val set = new java.util.LinkedHashSet[Long]()
        if (toks.length < n) set.add(fnv1a(toks.mkString(" ")))
        else {
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i <= toks.length - n) {
            sb.setLength(0)
            var j = 0
            while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
            set.add(fnv1a(sb))
            i += 1
          }
        }
        val out = new Array[Long](set.size)
        val it = set.iterator(); var i = 0
        while (it.hasNext) { out(i) = it.next(); i += 1 }
        out
      }
    }
    udf(text)
  }

  /** MinHash signature: k universal-hash permutations h_i(x)=(a_i*x+b_i) mod p,
    * signature[i] = min over shingle hashes. Coefficients are seeded —
    * deterministic across runs/executors. p = 2^31-1 (Mersenne) keeps
    * a*x < 2^62: no long overflow under Spark 4's default ANSI mode. */
  final val MersennePrime = 2147483647L // 2^31 - 1
  def minhashCoefficients(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1,
                 math.abs(rnd.nextLong()) % MersennePrime))
  }
  /** Single-pass UDF, not k chained array_min(transform(...)) exprs:
    * Catalyst higher-order functions evaluate INTERPRETED per element, so
    * k=128 separate traversals of a 400-hash array cost ~100x a tight JVM
    * loop computing all k minima in one pass. Values are identical to the
    * expression form (same seeded coefficients, same pmod arithmetic). */
  def minhashSignature(hashes: Column, k: Int, seed: Long): Column = {
    // r14: native codegen expression (graft.functions.MinhashSignature) —
    // integer arithmetic identical to the scala UDF it replaced, minus the
    // per-row Seq[Long] boxing on |shingles| elements per document. The
    // caller registers it on its own session
    // (GraftFunctions.ensureRegistered(ctx.spark)).
    F.call_function("minhash_sig", hashes, F.lit(k), F.lit(seed))
  }
}

/** Collapse rows whose similarity KEY (text / vector) is bit-identical to
  * one representative (min id) BEFORE any LSH pairing. Training corpora are
  * dominated by exact copies, and a duplicate group of size g lands in the
  * same buckets and emits O(g²) candidate pairs; one hash shuffle on the
  * key finds the group in linear time and LSH then runs on DISTINCT keys
  * only. Identical keys have identical similarity to everything else, so
  * this is semantics-preserving for every downstream pair decision.
  */
object ExactCollapse {
  /** df must carry (idCol, keyCol). Returns (representatives, dropped ids
    * as one column `id`, the (orig_id, rep_id) mapping of every row). The
    * collapsed frame is persisted: all three outputs filter the same
    * one-shuffle window pass, and without the persist each branch would
    * re-execute the scan + key shuffle.
    *
    * `rank`: optional survivor key (smaller struct wins lexicographically,
    * see DedupRank) — the representative becomes the group's BEST member
    * instead of its min id, so rep-level comparisons downstream are
    * best-vs-best. */
  def apply(df: DataFrame, idCol: String, keyCol: String,
            rank: Option[Column] = None,
            release: (() => Unit) => Unit = StageContext.KeepPinned)
      : (DataFrame, DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    val withRep = rank match {
      case None => df.withColumn("_rep_id", F.min(idCol).over(w))
      case Some(key) => df
        .withColumn("_rep_id", F.min(F.struct(key.alias("k"), F.col(idCol).alias("i")))
          .over(w).getField("i"))
    }
    val persisted = StageContext.pinWith(release, withRep)
    val dups = persisted.filter(F.col(idCol) =!= F.col("_rep_id"))
      .select(F.col(idCol).alias("id"))
    val reps = persisted.filter(F.col(idCol) === F.col("_rep_id")).drop("_rep_id")
    (reps, dups, persisted.select(F.col(idCol).alias("orig_id"), F.col("_rep_id").alias("rep_id")))
  }
}

/** Survivor-policy key for the near-dup families: `keep_by = <numeric
  * column>` keeps the highest-value duplicate (`keep_best = min` flips
  * it) instead of the lowest id — "keep the best-quality copy", the
  * production pick rule. The key is a struct ordered so SMALLER =
  * SURVIVOR: (±value, id), ties break to the lower id, and when every
  * value ties the behavior is exactly the default min-id policy. */
object DedupRank {
  def keyFor(cfg: graft.config.Cfg, idCol: String): Option[Column] =
    cfg.strOpt("keep_by").map { c =>
      val v = F.col(c).cast("double")
      val oriented = cfg.strOr("keep_best", "max") match {
        case "max" => -v
        case "min" => v
        case other => throw new GraftConfigError(
          s"keep_best must be max|min, got '$other'")
      }
      // nulls always lose: a null key sorts AFTER every real value
      F.coalesce(oriented, F.lit(Double.MaxValue))
    }

  /** (id, __rank) frame for pair-level decisions. */
  def ranks(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.select(F.col(idCol).alias("id"),
      F.struct(key.alias("k"), F.col(idCol).alias("i")).alias("__rank"))
}

/** Final pair → drop-set reduction, shared by every dedup family.
  *
  * - pairwise (default): drop `id_b` of every verified pair — a doc
  *   survives unless it DIRECTLY matches a lower-id doc. The documented
  *   approximation: in a chain a~c, b~c with a≁b, both a and b survive.
  * - `transitive = true`: connected components over the verified pairs by
  *   iterative min-label propagation until no label changes — exactly
  *   one doc (the component's min id) survives per near-dup cluster, the semantics large-scale
  *   training-data dedup pipelines standardize on. Iterations ∝ component
  *   diameter (tiny for dup clusters); each is two keyed joins, fully
  *   distributed.
  */
object DedupPairs {
  /** `ranks`: optional (id, __rank) survivor keys (DedupRank) — per pair
    * the LARGER rank drops (pairwise), or the component keeps only its
    * rank-minimal member (transitive). Absent = the default min-id
    * policy, byte-identical to before. */
  def dropped(pairs: DataFrame, transitive: Boolean, ranks: Option[DataFrame],
              release: (() => Unit) => Unit): DataFrame =
    (transitive, ranks) match {
      case (true, _)        => transitiveDropped(pairs, ranks, release)
      case (false, None)    => pairs.select(F.col("id_b").alias("id")).distinct()
      case (false, Some(r)) =>
        pairs
          .join(r.select(F.col("id").alias("id_a"), F.col("__rank").alias("__ra")), Seq("id_a"))
          .join(r.select(F.col("id").alias("id_b"), F.col("__rank").alias("__rb")), Seq("id_b"))
          .select(F.when(F.col("__ra") <= F.col("__rb"), F.col("id_b"))
            .otherwise(F.col("id_a")).alias("id"))
          .distinct()
    }

  /** Connected components by min-label propagation. Labels are rank
    * structs (k, i): the `ranks` survivor keys, else (id, id) — so the
    * component's best member, or its min id, propagates and survives.
    * Labels only decrease; the loop stops when no label changed. */
  private def transitiveDropped(pairs0: DataFrame, ranks: Option[DataFrame],
      release: (() => Unit) => Unit): DataFrame = {
    val pairs = StageContext.pinWith(release, pairs0.select("id_a", "id_b"))
    val edges = StageContext.pinWith(release, pairs.unionByName(
      pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))))
    val ids = pairs.select(F.col("id_a").alias("id"))
      .unionByName(pairs.select(F.col("id_b").alias("id"))).distinct()
    val ranked = ranks.fold(DedupRank.ranks(ids, "id", F.col("id")))(ids.join(_, Seq("id")))
    var labels = StageContext.pinWith(release,
      ranked.select(F.col("id"), F.col("__rank").alias("label")))
    var iter = 0
    var done = labels.isEmpty
    while (!done && iter < 30) {
      val nbr = edges
        .join(labels.select(F.col("id").alias("id_b"), F.col("label").alias("_nbl")), Seq("id_b"))
        .groupBy("id_a").agg(F.min("_nbl").alias("_nbr"))
        .withColumnRenamed("id_a", "id")
      // pinWith on every generation: loop intermediates release eagerly
      // below (the registered release then double-unpersists — a no-op),
      // and the FINAL generation, which the returned plan reads, releases
      // when the surrounding pipeline finishes
      val next = StageContext.pinWith(release, labels.join(nbr, Seq("id"), "left")
        .select(F.col("id"),
          F.least(F.col("label"), F.coalesce(F.col("_nbr"), F.col("label"))).alias("label")))
      val changed = next.alias("n")
        .join(labels.alias("p"), F.col("n.id") === F.col("p.id"))
        .filter(F.col("n.label") =!= F.col("p.label")).limit(1).count()
      labels.unpersist(blocking = false)
      labels = next
      done = changed == 0
      iter += 1
    }
    labels.filter(F.col("label").getField("i") =!= F.col("id")).select("id")
  }
}

/** Shared LSH candidate→verify machinery for minhash/ngram dedup.
  *
  * Scale shape (the part that survives 100 TB):
  *  1. band-bucket self-join carries ONLY (id, sig) — the k-int signature,
  *     never the wide shingle arrays, so the candidate shuffle is narrow;
  *  2. cheap prefilter: minhash signature agreement (unbiased Jaccard
  *     estimator, k samples) must reach threshold - 0.3 (>= 4 sigma at
  *     k >= 32) — kills the mid-similarity candidate mass that a shared
  *     vocabulary produces, without touching shingle arrays;
  *  3. exact Jaccard verify re-joins shingle arrays BY ID only for the
  *     few surviving pairs.
  */
object LshVerify {
  /** signature-agreement prefilter headroom: a candidate must estimate at
    * least threshold - this before its shingles are ever touched (>= 4
    * sigma of the k-sample Jaccard estimator at k >= 32). Shared by the
    * self-join and cross-join paths — they MUST agree or the
    * incremental-vs-full-corpus equivalence breaks. */
  private val PrefilterSlack = 0.3

  /** (band_idx, band_hash, id_<side>) keys for the LSH bucket join — one
    * NARROW row per (doc, band). The signature itself does NOT ride the
    * band join (r13, guide §2.3 "project before the exchange"): sig is a
    * 128-long array (~1 KB) and the join shuffles rows × bands of them,
    * so carrying it multiplied the exchange bytes ~40× over the
    * (band_idx, band_hash, id) key rows; sigs and shingles re-attach by
    * id only for the candidates that survive the band-collision dedup.
    * The band hashes come from the one `minhash_bands` kernel. */
  private def bandedKeys(df: DataFrame, bands: Int, r: Int, side: String): DataFrame =
    df.select(F.col("id").alias(s"id_$side"),
      F.posexplode(F.call_function("minhash_bands", F.col("sig"), F.lit(bands), F.lit(r))))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
      .select(s"id_$side", "band_idx", "band_hash")

  /** unbiased k-sample Jaccard estimate from signature agreement */
  private def sigAgreement(a: Column, b: Column, k: Int): Column =
    F.aggregate(F.zip_with(a, b, (x, y) => F.when(x === y, 1).otherwise(0)),
      F.lit(0), (acc, v) => acc + v).cast("double") / k

  /** Verified near-dup pairs (id_<a>, id_<b>, jaccard) of two pre-hashed
    * (id, shingles, sig) frames under one signature config: `self` pairs a
    * frame with itself (id_a < id_b), else e.g. a new batch against the
    * persisted corpus index. Candidate rows stay narrow (ids + band keys);
    * sigs and shingles re-attach by id only for the surviving candidates,
    * one hash join per side attaching BOTH columns, and the agreement
    * prefilter and the exact verify land in one codegen'd conjunction
    * (inner filter first — Catalyst's CombineFilters keeps the evaluation
    * order, so jaccard_sim still only runs on prefilter survivors). */
  def verifiedPairs(left: DataFrame, right: DataFrame, a: String, b: String, self: Boolean,
      bands: Int, r: Int, k: Int, threshold: Double): DataFrame = {
    val (idA, idB) = (s"id_$a", s"id_$b")
    val joined = bandedKeys(left, bands, r, a)
      .join(bandedKeys(right, bands, r, b), Seq("band_idx", "band_hash"))
    val candidates = (if (self) joined.filter(F.col(idA) < F.col(idB)) else joined)
      .select(idA, idB).dropDuplicates(idA, idB)
    candidates
      .join(left.select(F.col("id").alias(idA), F.col("sig").alias("_sg_l"),
        F.col("shingles").alias("sh_l")), idA)
      .join(right.select(F.col("id").alias(idB), F.col("sig").alias("_sg_r"),
        F.col("shingles").alias("sh_r")), idB)
      .filter(sigAgreement(F.col("_sg_l"), F.col("_sg_r"), k) >=
        math.max(0.0, threshold - PrefilterSlack))
      .withColumn("jaccard", F.call_function("jaccard_sim", F.col("sh_l"), F.col("sh_r")))
      .filter(F.col("jaccard") >= threshold)
      .select(idA, idB, "jaccard")
  }
}

/** Spread a (possibly single-partition) input across all cores before a
  * CPU-bound per-row stage. `parallelism` config overrides; a no-op when
  * the frame already has enough partitions. */
object Parallelize {
  def apply(ctx: StageContext): DataFrame = {
    val want = ctx.cfg.longOr("parallelism",
      ctx.spark.sparkContext.defaultParallelism.toLong).toInt
    val df = ctx.primary
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }
}

/** dedup.exact — exact duplicate removal by hash-groupBy on content columns
  * (training-data extension). `keep` = any (dropDuplicates, map-side
  * partial-agg — the cheapest) | first/last by `order_by` (window, one
  * shuffle). At 100 TB: one shuffle on a 64-bit content hash, no sort.
  */
object DedupExactOp extends Stage {
  val name = "dedup.exact"
  val kind = StageKind.Transform

  /** 128-bit content key over the dedup columns — md5 (not xxhash64) so
    * collisions are out of reach at any corpus size where a 64-bit
    * birthday bound is not (~4B rows). Each column contributes a
    * FIXED-WIDTH token — 'n' for null, 'v' + md5(value) otherwise — and
    * the key is the md5 of the token concatenation: no input byte
    * sequence can shift a column boundary (a separator-join would let
    * ("x<sep>y","z") alias ("x","y<sep>z")) and no value can impersonate
    * null (a sentinel would collide with a literal occurrence of
    * itself). */
  private[operators] def contentKey(cols: Seq[String]): Column =
    F.md5(F.concat(cols.map { c =>
      F.when(F.col(c).isNull, F.lit("n"))
        .otherwise(F.concat(F.lit("v"), F.md5(F.col(c).cast("string").cast("binary"))))
    }: _*).cast("binary"))

  def apply(ctx: StageContext): DataFrame = {
    ctx.cfg.strOpt("index_path") match {
      case None       => dedupBatch(ctx)
      case Some(path) =>
        // keep=last would pick the batch's newest copy and the index
        // anti-join would then silently invert that to index-wins — the
        // half-applied-policy trap dedup.minhash rejects too
        if (ctx.cfg.strOr("keep", "any") == "last") throw new GraftConfigError(
          "dedup.exact: keep=last is not supported with index_path — the index " +
          "(already-ingested rows) always wins, which contradicts keep-the-latest; " +
          "use keep=first|any")
        incremental(ctx, path, dedupBatch(ctx))
    }
  }

  private def dedupBatch(ctx: StageContext): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = ctx.primary
    val cols = ctx.cfg.strListOr("columns", df.columns.toVector)
    ctx.cfg.strOr("keep", "any") match {
      case "any" => df.dropDuplicates(cols)
      case keep @ ("first" | "last") =>
        val orderBy = ctx.cfg.strList("order_by") // required for determinism
        val ord = if (keep == "last") orderBy.map(F.col(_).desc) else orderBy.map(F.col(_).asc)
        val w = Window.partitionBy(cols.map(F.col): _*).orderBy(ord: _*)
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") === 1).drop("_rn")
      case other => throw new GraftConfigError(s"unknown keep '$other'")
    }
  }

  /** `index_path` — drop batch rows whose content key is already in an
    * `index.build type=exact` corpus (after the within-batch keep rule):
    * exact dedup of a new ingestion batch against everything already
    * ingested, via one anti-join on narrow 128-bit keys — the corpus
    * text itself is never read again. Same snapshot/append contract as
    * dedup.minhash index_path: the file list is fixed at plan time, and
    * `index_append = true` adds the survivors' keys on pipeline success. */
  private def incremental(ctx: StageContext, path: String, batchDeduped: DataFrame): DataFrame = {
    val cfg = ctx.cfg
    val idx = IndexCatalog.open(ctx, name, path, IndexCatalog.Exact)
    val cols = ExactIndex.columns(ctx, Some(idx))
    val streamTag = cfg.strOpt("_stream_batch_tag")
    val index = idx.corpus(ExactIndex.corpusSchema, excludeDir = streamTag)
    val keyed = batchDeduped.withColumn("_key", contentKey(cols))
    val result = keyed
      .join(index.select(F.col("key").alias("_key")), Seq("_key"), "left_anti")
    DeferredAppend(ctx, name, path, streamTag)(
      result.select(F.col("_key").alias("key")).distinct()) { rows =>
      rows.withColumn("_key", contentKey(cols)).select(F.col("_key").alias("key")).distinct()
    }
    result.drop("_key")
  }
}

/** Driver-side cache of index `meta/` tables, keyed by the dir's file
  * listing (names + lengths): every incremental probe reads one tiny
  * 1-row parquet per invocation, which in a streaming query means one
  * Spark job PER MICRO-BATCH for a table that cannot change while the
  * query holds the index lease. A driver FS listing (no job) detects the
  * only way the meta can legitimately change — a rebuild writes fresh
  * part-file names — and invalidates; everything else is served from
  * memory. Bounded: one small Row per distinct index path per JVM. */
private[graft] object IndexMeta {
  /** LRU-bounded: entries hold not just 1-row meta Rows but full IVF
    * centroid tables and m·ksub PQ codebooks — a long-lived session
    * touching many indexes must not grow driver memory without bound. 64
    * indexes × the largest payload class (a few MB of centroids) keeps the
    * cache useful for every realistic probe loop while capping the worst
    * case; eviction just means the next probe re-pays one small load job. */
  private val MaxEntries = 64
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, Any)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, Any)]): Boolean =
        size() > MaxEntries
    })

  private def listing(dir: String): String =
    GraftFs.listFilesRec(dir).map { case (f, len) => s"$f:$len" }.sorted.mkString("|")

  /** Listing-keyed driver cache for any small loaded artifact of an index
    * subdirectory (meta rows, centroid tables, PQ codebooks): each load is
    * a Spark job, and probe LOOPS (knn batches, index.recall's q probes,
    * every micro-batch of a stream) re-pay it per call for tables that
    * only change when a rebuild writes fresh part files — which the
    * listing detects for one driver FS list, no job. A throwing load is
    * not cached (empty-table errors stay loud per call). */
  def cached[T](dir: String)(load: => T): T = {
    val key = GraftFs.qualified(dir)
    val lst = listing(dir)
    val hit = cache.get(key)
    if (hit != null && hit._1 == lst) hit._2.asInstanceOf[T]
    else {
      val v = load
      cache.put(key, (lst, v))
      v
    }
  }

  /** The one row of a `meta/` table (on a cache miss, a schema-inference
    * job and a head job) */
  def head(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.Row =
    cached(dir)(spark.read.parquet(dir).head())
}

/** Plan-time snapshot of an index corpus directory: parquet dir reads
  * re-list at execution, so an `index_append` firing before the result is
  * consumed would otherwise let a batch match itself. */
private[graft] object IndexSnapshot {
  /** Active corpus directory of the index at `root`. A never-compacted
    * index (what `index.build` writes): the `corpus` dir. A compacted one:
    * `corpus.ptr` names the live `corpus-NNNNNN` generation (see
    * DESIGN_NOTES "Object-store commit semantics"). This resolver is the
    * ONE place every reader, append, and maintenance verb goes through, so
    * `index.compact`'s pointer commit (a single small-file PUT, atomic
    * everywhere) switches all of them at once. */
  def corpusDir(root: String): String = {
    val ptr = s"$root/corpus.ptr"
    if (GraftFs.isFile(ptr)) {
      val gen = GraftFs.readString(ptr).trim
      if (gen.isEmpty || gen.contains('/') || !gen.startsWith("corpus-"))
        throw new GraftPlanError(
          s"index at $root: corpus.ptr names '$gen' — not a corpus-NNNNNN generation")
      s"$root/$gen"
    } else s"$root/corpus"
  }

  /** Drop generation-layout state on a mode=overwrite rebuild: the fresh
    * corpus writes to the classic dir, so a surviving pointer would alias
    * the new index to a stale generation. */
  def resetGenerations(root: String): Unit = {
    GraftFs.deleteIfExists(s"$root/corpus.ptr")
    GraftFs.listDirNames(root).filter(_.startsWith("corpus-"))
      .foreach(g => GraftFs.deleteRec(s"$root/$g"))
  }

  /** Append `df` to the corpus dir. Batch mode (no tag): a plain append
    * under the shared batch/maintenance lease — the success-deferral
    * already guarantees it fires at most once per run; the lease keeps it
    * out of a concurrent compact's rewrite window (and off an index a live
    * stream.ingest holds). Streaming mode (tag set): an OVERWRITE of this
    * batch's own slice — `corpus/<tag>/` for a flat corpus, the tagged
    * partition dirs (dynamic overwrite) for a partitioned one — so a
    * micro-batch retry re-lands its append idempotently instead of
    * duplicating it, and the paired `excludeDir` probe filter keeps the
    * retry from self-matching first; the streaming query holds the lease
    * for its whole lifetime, so no per-batch claim here. */
  def append(df: DataFrame, corpusDir: String, streamTag: Option[String],
      partitionBy: Seq[String] = Nil): Unit = {
    streamTag match {
      case None =>
        val parent = GraftFs.path(corpusDir).getParent
        val root = if (parent != null) parent.toString else corpusDir
        graft.streaming.IngestLease.withBatchLease(root, "index_append") {
          write(df, corpusDir, "append", partitionBy)
        }
      case Some(tag) =>
        if (partitionBy.isEmpty) write(df, s"$corpusDir/$tag", "overwrite")
        else write(df, corpusDir, "overwrite", partitionBy, dynamic = true)
    }
  }

  /** Write corpus rows. A partitioned corpus first co-locates each dir key
    * (one file per populated dir instead of input_partitions × dirs
    * droplets); `dynamic` overwrites only the dirs the rows land in. A row
    * that trips a RowGuard.failIf guard fails the write with a
    * GraftConfigError carrying the guard's message. */
  def write(df: DataFrame, dir: String, mode: String, partitionBy: Seq[String] = Nil,
      dynamic: Boolean = false): Unit = {
    val w =
      if (partitionBy.isEmpty) df.write
      else df.repartition(partitionBy.map(F.col): _*).write.partitionBy(partitionBy: _*)
    RowGuard.raising((if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .mode(mode).parquet(dir))
  }

  /** Snapshot-read the corpus as parquet, treating a part-file-less dir as
    * an EMPTY index of `emptySchema` (index.build over empty input writes
    * only _SUCCESS; `spark.read.parquet()` with zero paths would fail with
    * an unrelated 'unable to infer schema'). A non-empty corpus is typed by
    * its own footer (ParquetSchema, no inference job) — never by
    * `emptySchema`, which the caller derives from ITS input: an index built
    * with long ids may be probed by a batch with int ids. `basePath` set =
    * recover the partition dirs' columns (the lsh layout; Spark infers). */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String, missingMsg: String,
           emptySchema: StructType,
           basePath: Boolean = false, excludeDir: Option[String] = None): DataFrame = {
    val fs = files(dir, missingMsg, excludeDir)
    if (fs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    else if (basePath)
      // basePath must be qualified the same way as the listed file paths
      // (which come back fully qualified from the Hadoop listing) or
      // partition-column recovery misses
      spark.read.option("basePath", GraftFs.qualified(dir)).parquet(fs: _*)
    else {
      val reader = spark.read
      ParquetSchema.ofDataFiles(spark, fs).fold(reader)(reader.schema).parquet(fs: _*)
    }
  }

  /** `excludeDir`: skip part files under a subdirectory with this exact
    * name — the streaming-ingest retry shape: a re-run micro-batch must
    * not probe against its OWN failed-attempt append (`corpus/<tag>/`) or
    * every row would self-match and the retry would emit nothing. */
  def files(dir: String, missingMsg: String, excludeDir: Option[String] = None): Vector[String] =
    filesWithLen(dir, missingMsg, excludeDir).map(_._1)

  /** Same snapshot listing with file lengths — one recursive Hadoop
    * listFiles call (a single namenode iterator / object-store LIST, not a
    * per-directory walk), so fragmentation stats come for free. */
  def filesWithLen(dir: String, missingMsg: String,
      excludeDir: Option[String] = None): Vector[(String, Long)] = {
    if (!GraftFs.isDir(dir)) throw new GraftPlanError(missingMsg + heldAside(dir))
    GraftFs.listFilesRec(dir).filter { case (f, _) =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      name.startsWith("part-") && name.endsWith(".parquet") &&
      // skip Spark's uncommitted output (_temporary attempt dirs from a
      // crashed append/build) and any other hidden dirs — committed
      // part files live DIRECTLY under the corpus dir
      !GraftFs.relativize(dir, f).split('/').exists { s =>
        s.startsWith("_") || s.startsWith(".") || excludeDir.contains(s)
      }
    }
  }

  /** A compact of the retired rename-swap protocol that crashed mid-swap
    * left the classic corpus missing and its complete generations held
    * aside as `corpus.compact.old` (the pre-compact corpus) and
    * `corpus.compact.tmp`; nothing repairs that any more, so the
    * missing-corpus error names them and the rename that restores the
    * index. Runs on the error path only. */
  private def heldAside(dir: String): String = {
    val held = Seq("old", "tmp").map(s => s"$dir.compact.$s").filter(GraftFs.isDir)
    held.headOption.fold("")(h => s" — an interrupted compact left ${held.mkString(" and ")}; " +
      s"rename $h to $dir to restore the index (the next index.compact collects the rest)")
  }

  /** ADVISORY row-count estimate from a BOUNDED footer sample: read at
    * most `maxFooters` footers and extrapolate by byte share. At gate
    * scale (files <= maxFooters) this is exact — identical to
    * [[footerRows]]; at 100 TB (10^5-10^6 corpus files) the exact sum
    * would be a driver metadata storm on every build, and the occupancy
    * advisory only needs the magnitude (its threshold is a power of two).
    * Deterministic: the sample is the lexicographic head of the sorted
    * listing. */
  def footerRowsEstimate(filesWithLen: Seq[(String, Long)],
      maxFooters: Int = 1024): Long = {
    if (filesWithLen.isEmpty) return 0L
    if (filesWithLen.size <= maxFooters) return footerRows(filesWithLen.map(_._1))
    val sorted = filesWithLen.sortBy(_._1)
    val sample = sorted.take(maxFooters)
    val sampleRows = footerRows(sample.map(_._1))
    val sampleBytes = math.max(1L, sample.map(_._2).sum)
    val totalBytes = filesWithLen.map(_._2).sum
    math.round(sampleRows.toDouble * totalBytes / sampleBytes)
  }

  /** Total row count of `files` straight from the parquet footers —
    * metadata only, pooled driver reads (the index.stats / cellOccupancy
    * trick), ZERO Spark jobs. Replaces `spark.read.parquet(...).count()`
    * on advisory paths: a count() plans and schedules a whole Spark job
    * over every file to learn numbers the footers already hold. */
  def footerRows(files: Seq[String]): Long = footerRowCounts(files).sum

  /** Row count of each of `files` from its parquet footer. */
  def footerRowCounts(files: Seq[String]): Seq[Long] =
    footers(files)(_.getBlocks.asScala.map(_.getRowCount).sum)

  /** `f` of each of `files`' parquet footer — THE driver-side footer
    * reader (row counts, column-chunk bytes, the Spark row schema), on the
    * session's cached Hadoop conf: a fresh `newHadoopConf()` per call
    * re-parses Hadoop's XML default resources. Footer opens are independent
    * small reads dominated by per-open latency, so several run on a bounded
    * driver pool — the same trick a parquet scan's own footer phase uses. */
  def footers[T](files: Seq[String])(f: ParquetMetadata => T): Seq[T] = {
    val conf = GraftFs.hadoopConf
    def read(file: String): T = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), conf))
      try f(r.getFooter) finally r.close()
    }
    if (files.size <= 1) return files.map(read)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, files.size))
    try files.map(file => pool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = read(file)
    })).map(_.get())
    finally pool.shutdown()
  }
}

/** The schema `spark.read.parquet(paths)` (no options) infers, resolved on
  * the driver from the one footer Spark's inference would read — zero Spark
  * jobs where inference runs a one-stage job per read. Spark's rule (with
  * schema merging off): among the leaf files sorted by path, the first
  * `_common_metadata`, else the first `_metadata`, else the first data
  * file; from it the Spark row schema stored under [[RowMetadataKey]],
  * made nullable as every file-source relation is. Anything this does not
  * reproduce exactly returns None and the caller keeps Spark's own
  * inference: a footer without that key, schema merging (option or conf),
  * globs, nested or partition (`key=value`) directories, leaf names Spark's
  * hidden-file rule treats specially, or a non-`.parquet` data file.
  * Callers with reader options (`basePath`, `mergeSchema`, …) infer. */
private[graft] object ParquetSchema {
  val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  def apply(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (paths.isEmpty || merging(spark) || paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else leaves(paths).flatMap(ofLeaves)

  /** `spark.read.parquet(paths)`, typed by [[apply]] where it resolves */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val reader = spark.read
    apply(spark, paths).fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** [[apply]] over a listing already known to hold only committed data
    * files — the index-corpus snapshot: no stat calls. */
  def ofDataFiles(spark: SparkSession, files: Seq[String]): Option[StructType] =
    if (files.isEmpty || merging(spark)) None else ofLeaves(files)

  private def merging(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean

  private val Summaries = Seq("_common_metadata", "_metadata")
  private def name(f: String) = f.substring(f.lastIndexOf('/') + 1)

  /** The leaf files Spark lists for `paths`, fully qualified — None where
    * its listing has a shape this does not reproduce. */
  private def leaves(paths: Seq[String]): Option[Seq[String]] = {
    val listed = paths.map { p =>
      val fs = GraftFs.fs(p)
      val st = try Some(fs.getFileStatus(GraftFs.path(p)))
        catch { case _: java.io.FileNotFoundException => None }
      st.flatMap { s =>
        if (!s.isDirectory) Some(Seq(s))
        else {
          val kids = fs.listStatus(s.getPath).toSeq.filterNot { k =>
            val n = k.getPath.getName
            // HadoopFSUtils.shouldFilterOutPathName: hidden unless a summary
            ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
              n.endsWith("._COPYING_")) && !Summaries.exists(n.startsWith)
          }
          if (kids.exists(_.isDirectory)) None else Some(kids)
        }
      }
    }
    if (listed.exists(_.isEmpty)) None
    else Some(listed.flatten.flatten.map(_.getPath.toString))
  }

  private def ofLeaves(files: Seq[String]): Option[StructType] = {
    val sorted = files.sorted
    val data = sorted.filterNot(f => Summaries.contains(name(f)))
    if (data.isEmpty || data.exists(f => !name(f).endsWith(".parquet") ||
        name(f).startsWith("_") || name(f).startsWith("."))) return None
    val touched = Summaries.iterator.flatMap(s => sorted.find(name(_) == s))
      .nextOption().getOrElse(data.head)
    IndexSnapshot.footers(Seq(touched))(m =>
      Option(m.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey))).head
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => nullable(s) }
  }

  /** StructType.asNullable (private to Spark), which file sources apply */
  private def nullable[T <: DataType](t: T): T = (t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }).asInstanceOf[T]
}

/** Success-deferred index append with the STREAMING read-back shortcut,
  * shared by every index_append: the flat dedup corpora (exact, minhash,
  * ngram, simhash) and dedup.embedding's partitioned lsh corpus
  * (`partitionBy` = the layout's partition columns). Batch mode pins the
  * plan-side survivors frame and appends it on success. Streaming mode
  * (`_stream_readback_dir` set by the sink) instead re-reads the batch's
  * just-written output partition inside the deferred action — one
  * columnar scan of exactly the survivor rows, replacing a re-run of the
  * whole probe DAG (the r12 job-count work) — and re-derives the index
  * rows from it: signatures are deterministic functions of the content,
  * so derive(written rows) ≡ the plan-side index rows. It is also the
  * stronger consistency statement (the index grows by what the output
  * durably holds), and an all-duplicates batch (no partition written)
  * appends nothing at zero jobs.
  *
  * Only with `index_append = true`, and one appender per index per
  * pipeline run: each appending stage snapshots the corpus file list at
  * plan time and fires its append only after all sinks succeed, so two
  * appenders in one pipeline would each miss the other's survivors and
  * both append — duplicates would enter the index with no warning. The
  * claim is made at PLAN time so `explain` rejects the pipeline too;
  * explain then registers nothing (and skips `check`). */
private[graft] object DeferredAppend {
  def apply(ctx: graft.core.StageContext, op: String, path: String, streamTag: Option[String],
      partitionBy: Seq[String] = Nil, check: => Unit = ())(planSurvivors: => DataFrame)
      (derive: DataFrame => DataFrame): Unit = {
    val cfg = ctx.cfg
    if (!cfg.boolOr("index_append", false)) return
    if (!ctx.claimOnce("index_append:" + GraftFs.qualified(path))) throw new GraftConfigError(
      s"$op: two stages in one pipeline register index_append = true for the index at " +
      s"$path — each snapshots the corpus before the other's deferred append fires, so " +
      "neither batch dedups against the other's survivors and duplicates silently enter " +
      "the index; run the batches as separate pipeline runs (one appender per index per run)")
    if (cfg.boolOr("_explain_only", false)) return
    check
    cfg.strOpt("_stream_readback_dir").filter(_ => streamTag.isDefined) match {
      case Some(rb) =>
        ctx.deferToSuccess { () =>
          if (GraftFs.isDir(rb) &&
              GraftFs.listFilesRec(rb).exists(_._1.endsWith(".parquet"))) {
            val rows = ParquetSchema.read(ctx.spark, Seq(rb))
              .select(ctx.primary.columns.map(F.col).toIndexedSeq: _*)
            IndexSnapshot.append(derive(rows), IndexSnapshot.corpusDir(path), streamTag,
              partitionBy)
          }
        }
      case None =>
        val pinned = ctx.pin(planSurvivors)
        ctx.deferToSuccess(() =>
          IndexSnapshot.append(pinned, IndexSnapshot.corpusDir(path), streamTag, partitionBy))
    }
  }
}

/** dedup.minhash — near-duplicate removal via MinHash + LSH banding
  * (training-data extension; the standard web-scale text-dedup pipeline):
  *
  *   shingle(n words) → xxhash64 → minhash signature (k) → b bands of r
  *   rows → band-bucket self-join (candidates) → exact Jaccard verify on
  *   shingle sets → drop the higher-id doc of each verified pair.
  *
  * Config: id_column, text_column, shingle_size=3, num_hashes=128,
  * bands=32, threshold=0.8 (Jaccard); `index_path` probes an
  * `index.build type=minhash` corpus.
  */
object DedupMinHashOp extends TextSigDedupOp(TextSigFamily.MinHash)

/** dedup.simhash — near-dup removal via 64-bit SimHash + Hamming-distance
  * LSH (training-data extension). Pigeonhole blocking: split 64 bits into
  * (max_distance+1) blocks — two docs within hamming d share at least one
  * exact block — then verify bit_count(xor) <= d. Config: id_column,
  * text_column, max_distance=3; `index_path` probes an
  * `index.build type=simhash` corpus.
  */
object DedupSimHashOp extends TextSigDedupOp(TextSigFamily.SimHash)

/** dedup.ngram — n-gram Jaccard near-dup removal. Candidate generation
  * reuses a SMALL minhash signature purely for blocking (bands of the
  * full corpus never cross-join); verification is the EXACT n-gram Jaccard.
  * Differs from dedup.minhash in that the verify set is character n-grams
  * (robust to word-boundary edits) and the threshold applies to the exact
  * similarity, making blocking purely a recall knob. Config: id_column,
  * text_column, ngram_size=5, bands=8, rows_per_band=6, threshold=0.7;
  * `index_path` probes an `index.build type=ngram` corpus.
  */
object DedupNgramOp extends TextSigDedupOp(TextSigFamily.Ngram)

/** dedup.embedding — near-dup removal by embedding cosine similarity
  * (training-data extension). Candidates via random-hyperplane LSH (h
  * seeded hyperplanes → h-bit signature → bucket join on signature
  * prefix-blocks, pigeonhole like simhash); verify exact cosine ≥
  * threshold; drop higher id.
  *
  * Two blocking schemes: the default `pigeonhole` guarantees recall
  * within the Hamming prefilter bound but its block width is capped at
  * ~π/angle bits by that guarantee, so bucket candidates are N²/2^width
  * with a CONSTANT reduction — fine at fixture scale, quadratic at
  * corpus scale (measured: 22.8M bucket pairs at 50k random docs,
  * BENCH_NOTES r6). `blocking = "bands"` switches to banded LSH
  * (`bands` independent `band_planes`-bit signatures, candidate on exact
  * band agreement — the minhash-banding shape): random collisions fall
  * as 2^-band_planes per band, a free knob (≈ log2 corpus size), at the
  * price of probabilistic recall 1-(1-p^r)^b for borderline pairs
  * (p = 1-acos(cos)/π; ~1 for exact/near-exact copies).
  */
object DedupEmbeddingOp extends Stage {
  val name = "dedup.embedding"
  val kind = StageKind.Transform

  // 32 planes / 4 blocks = 8-bit blocks → 256 buckets per block: keeps
  // bucket population ~N/256 so the self-join stays near-linear (16-bit
  // sigs with 4-bit blocks put ~N/16 rows in every bucket → quadratic)
  private[graft] val Defaults = LshDefaults(planes = 32L)

  /** tight-loop cosine UDF (double arrays) — kept for spec parity checks;
    * plan-side verification goes through the codegen'd `cosine_sim`
    * Catalyst expression instead (identical math: min-length loop,
    * dot/(|a||b|)), which fuses into WholeStageCodegen and skips the
    * per-row Seq boxing this UDF pays. */
  val cosineUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    F.udf { (a: Seq[Double], b: Seq[Double]) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  /** callers must GraftFunctions.ensureRegistered the session first */
  def cosine(a: Column, b: Column): Column = F.call_function("cosine_sim", a, b)

  /** h-bit hyperplane signature of a float-array column (seeded, dim known);
    * one pass over the vector computing all h dots.
    *
    * `ndExplode = true` marks the UDF non-deterministic — REQUIRED at the
    * sites that posexplode the signature's block keys WITHOUT a persist in
    * between (index builds and appends): InferFiltersFromGenerate infers
    * `size(keys(UDF(v))) > 0 AND isnotnull(...)` below the Generate, and
    * the pushed filter re-evaluates the UDF — measured 3 evaluations per
    * row on the bands build (guide §4.4; OPTIMIZATION_r14 §1: the sig pass
    * alone 0.6 s, with the explode 1.7-2.0 s on identical data). The
    * values are deterministic either way — the flag only stops the
    * optimizer duplicating the expression. Probe paths keep the default:
    * a non-deterministic projection would block partition-filter pushdown
    * past it (PushPredicateThroughNonJoin requires every project field
    * deterministic), which the index-side scans rely on. */
  def hyperplaneSig(vec: Column, dim: Int, h: Int, seed: Long,
      ndExplode: Boolean = false): Column = {
    // r14: native codegen expression (graft.functions.HyperplaneSignature)
    // — bit-identical planes/arithmetic to the scala UDF it replaced, at
    // ~30x less per-row cost (SigPerfProbe; SignatureExpressionSpec pins
    // value equality). The caller registers it on its own session.
    F.call_function("hyperplane_sig", vec.cast("array<float>"),
      F.lit(dim), F.lit(h), F.lit(seed), F.lit(ndExplode))
  }

  /** `bands` independent r-bit hyperplane signatures (one pass over the
    * vector computing all bands·r dots) — the banded-LSH blocking for
    * `blocking = "bands"`: each band is its own r-plane signature, a
    * candidate needs ONE band to agree EXACTLY. Unlike the pigeonhole
    * blocks (which slice a single h-bit sig and are capped at
    * ~π/angle useful bits per block by the exact-block recall guarantee),
    * band width r is a free knob: random-pair collisions fall as 2^-r per
    * band, so r ≈ log2(corpus size) keeps the candidate set linear at any
    * scale. Recall is probabilistic — 1-(1-p^r)^bands with
    * p = 1-acos(cos)/π — ~1 for exact/near-exact copies and tunable via
    * `bands` for borderline pairs.
    *
    * `ndExplode`: see [[hyperplaneSig]] — set at un-persisted explode
    * sites (builds/appends) to stop InferFiltersFromGenerate tripling the
    * UDF; values identical either way. */
  def bandSignatures(vec: Column, dim: Int, bands: Int, r: Int, seed: Long,
      ndExplode: Boolean = false): Column = {
    // r14: native codegen expression (graft.functions.BandSignatures) —
    // see hyperplaneSig above; bit-identical values, ~30x less per-row
    // boundary cost than the scala UDF. The caller registers it on its
    // own session.
    F.call_function("band_sigs", vec.cast("array<float>"),
      F.lit(dim), F.lit(bands), F.lit(r), F.lit(seed), F.lit(ndExplode))
  }

  /** Self-dedup blocks on `blocking` (pigeonhole, bands or ivf cells),
    * every vector checked against `dim`, else the first vector's length.
    * `index_path` probes an `index.build type=lsh` corpus of either
    * layout, every batch vector checked against the index dim; streaming
    * (`_stream_batch_tag` set, bands layout only) excludes and overwrites
    * the batch's own `ingest_tag=<tag>` dirs — idempotent, which is what
    * makes dedup=embedding streamable. An append requires the batch to
    * carry the index's row columns. */
  def apply(ctx: StageContext): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
    val cfg = ctx.cfg
    val vecCol = cfg.str("vector_column")
    val threshold = cfg.doubleOr("threshold", 0.95)
    NearDup.dedup(ctx, name, "vec", vecCol, selfBlocking(ctx, vecCol, threshold), { path =>
      val vectors = s"batch vectors in '$vecCol'"
      new LshProbe(LshIndex.open(ctx, name, path, Defaults, vectors, None), threshold, vectors,
        ctx.primary.schema(cfg.str("id_column")), ctx.primary.schema(vecCol))
    })
  }

  /** bands is the 100 TB blocking (see ScaleProbe / BENCH_NOTES r6):
    * pigeonhole candidates are N²/2^width with width CAPPED by the recall
    * guarantee, so at corpus scale buckets go quadratic; banded LSH trades
    * the guarantee for a free-width knob (random collisions 2^-r per band;
    * pick band_planes ≈ log2 corpus size). ivf is SemDeDup-style cluster
    * blocking (Abbas et al. 2023): candidates are same-cell pairs under a
    * coarse quantizer trained on the representatives — Σ n_c² over cells ≈
    * N²/nlist when balanced, so nlist is the corpus-scale knob; near-dup
    * pairs SPLIT by a cell boundary are missed by design, and nlist = 1 is
    * the exhaustive setting the dedup_embedding_ivf gate pins. */
  private def selfBlocking(ctx: StageContext, vecCol: String, threshold: Double): Blocking = {
    val cfg = ctx.cfg
    // an empty corpus has no first vector and nothing to pair
    val dim = cfg.longOpt("dim").map(_.toInt).getOrElse(
      LshIndex.firstDim(ctx.primary, F.col(vecCol)).getOrElse(0))
    val guard = LshIndex.dimGuard(F.col("vec"), dim, s"$name: vectors in '$vecCol' have length ",
      if (cfg.has("dim")) s" but dim = $dim is configured" else s" but the first has length $dim")
    VectorBlocking.configured(name, cfg, Defaults, dim, threshold, guard)(reps =>
      IvfIndex.blockingQuantizer(ctx, name, reps, guard(F.col("vec")), 11L,
        s"vectors in '$vecCol'", Some(dim).filter(_ > 0)).assign(ctx.spark, F.col("vec")))
  }
}
