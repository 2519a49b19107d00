package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.config.Cfg
import graft.core.StageContext
import graft.operators._

/** Dedup-family scale probe: runs the near-dup operators over synthetic
  * corpora at increasing sizes and prints one JSON line per (op, n) with
  * wall time AND the candidate-pair counts that drive the cost — the
  * direct evidence that the LSH shapes scale ~linearly in corpus size
  * (an all-pairs shape would grow quadratically in `pairs`).
  *
  *   sbt "runMain graft.ScaleProbe 5000 15000 50000"
  *
  * Corpus model (seeded, deterministic, generated distributed via
  * spark.range — no driver materialization): ~100-word docs over a 20k
  * vocabulary; 5% of docs are near-dup copies of their predecessor with
  * 3 words swapped (Jaccard ≈ 0.9 — above the 0.8 gate threshold);
  * embeddings are unit 64-dim gaussians with the same 5% near-copies
  * (cosine ≈ 0.999). Fixture-shaped, 10× the sf0.1 gate corpus at the
  * top size. Results land in docs/BENCH_NOTES.md.
  */
object ScaleProbe {
  private def rng(seed: Long) = new scala.util.Random(seed)

  private def docText(id: Long): String = {
    // planted near-dup: ids ≡ 19 (mod 20) copy id-1's text with 3 swaps
    val base = if (id % 20 == 19) id - 1 else id
    val r = rng(base * 7919L + 17L)
    val len = 80 + r.nextInt(40)
    val words = Array.fill(len)("w" + r.nextInt(20000))
    if (id % 20 == 19) {
      val m = rng(id * 104729L + 5L)
      (0 until 3).foreach(_ => words(m.nextInt(len)) = "w" + m.nextInt(20000))
    }
    words.mkString(" ")
  }

  private def docVec(id: Long): Array[Float] = {
    val base = if (id % 20 == 19) id - 1 else id
    val r = rng(base * 6271L + 3L)
    val v = Array.fill(64)(r.nextGaussian())
    if (id % 20 == 19) {
      val m = rng(id * 31337L + 1L)
      (0 until 64).foreach(i => v(i) += 0.02 * m.nextGaussian())
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("frag")) { fragProbe(); return }
    if (args.headOption.contains("stream")) {
      streamProbe(args.drop(1).headOption.map(_.toInt).getOrElse(50),
        args.drop(2).headOption.map(_.toInt)); return
    }
    if (args.headOption.contains("probebands")) {
      probeBandsProbe(args.drop(1).headOption.map(_.toInt).getOrElse(50000)); return
    }
    if (args.headOption.contains("ann")) {
      annProbe(args.drop(1).headOption.map(_.toInt).getOrElse(200000)); return
    }
    if (args.headOption.contains("ivfpq")) {
      ivfpqProbe(args.drop(1).headOption.map(_.toInt).getOrElse(200000)); return
    }
    if (args.headOption.contains("shards")) {
      shardsProbe(args.drop(1).headOption.map(_.toInt).getOrElse(200000),
        args.drop(2).headOption.map(_.toLong).getOrElse(0L),
        args.drop(3).headOption.map(_.toLong).getOrElse(1L << 20)); return
    }
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(5000, 15000, 50000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)

    val textUdf = F.udf(docText _)
    val vecUdf = F.udf(docVec _)
    def docs(n: Int): DataFrame = spark.range(n.toLong)
      .select(F.col("id").as("doc_id"), textUdf(F.col("id")).as("text"))
    def vecs(n: Int): DataFrame = spark.range(n.toLong)
      .select(F.col("id").as("vec_id"), vecUdf(F.col("id")).as("embedding"))

    def timed(body: => Long): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }
    var quiet = false
    def report(op: String, n: Int, sec: Double, extras: (String, Long)*): Unit =
      if (!quiet) println((Seq(s""""op":"$op"""", s""""n":$n""", f""""sec":$sec%.2f""") ++
        extras.map { case (k, v) => s""""$k":$v""" }).mkString("{", ",", "}"))

    def run(n: Int): Unit = {
      // materialize the synthetic corpus to parquet first: every probe
      // then reads the same on-disk table (like the gates), and generation
      // cost stays out of the timed window
      val dir = java.nio.file.Files.createTempDirectory(s"graft_scale_$n").toString
      docs(n).write.parquet(s"$dir/docs")
      vecs(n).write.parquet(s"$dir/vecs")
      val d = spark.read.parquet(s"$dir/docs")
      val v = spark.read.parquet(s"$dir/vecs")

      // dedup.minhash full pass
      val (mhSec, mhKept) = timed {
        DedupMinHashOp(StageContext.one(spark, d, Cfg.of(
          "id_column" -> "doc_id", "text_column" -> "text",
          "shingle_size" -> 3, "num_hashes" -> 128, "bands" -> 32,
          "threshold" -> 0.8, "seed" -> 42))).count()
      }
      // candidate evidence: verified pairs (post-LSH, post-verify) —
      // linear in planted dups when the banding is selective
      val hashed = d.select(F.col("doc_id").as("id"),
          Shingles.shingleHashes(F.col("text"), 3).as("shingles"))
        .withColumn("sig", Shingles.minhashSignature(F.col("shingles"), 128, 42))
      val pairs = LshVerify.verifiedPairs(hashed, hashed, "a", "b", self = true, 32, 4, 128, 0.8)
        .count()
      report("dedup.minhash", n, mhSec, "survivors" -> mhKept, "verified_pairs" -> pairs)

      // dedup.embedding full pass + bucket-candidate evidence
      val (embSec, embKept) = timed {
        DedupEmbeddingOp(StageContext.one(spark, v, Cfg.of(
          "id_column" -> "vec_id", "vector_column" -> "embedding",
          "threshold" -> 0.95, "num_planes" -> 32, "blocks" -> 4,
          "seed" -> 11))).count()
      }
      val sigs = v.select(F.col("vec_id").as("id"),
        DedupEmbeddingOp.hyperplaneSig(F.col("embedding"), 64, 32, 11).as("sig"))
      val blocked = sigs.select(F.col("id"), F.posexplode(
          LshLayout.Pigeonhole.blockKeys(F.col("sig"), 4, 8)))
        .toDF("id", "block", "bucket")
      val cands = blocked.as("a").join(blocked.as("b"),
          F.col("a.block") === F.col("b.block") &&
          F.col("a.bucket") === F.col("b.bucket") &&
          F.col("a.id") < F.col("b.id"))
        .select("a.id", "b.id").distinct().count()
      report("dedup.embedding", n, embSec, "survivors" -> embKept, "bucket_pairs" -> cands)

      // dedup.embedding blocking=bands — the corpus-scale blocking
      // (banded LSH, BENCH_NOTES r6): candidate reduction 2^band_planes
      // per band instead of the pigeonhole's recall-capped 2^8
      val (bndSec, bndKept) = timed {
        DedupEmbeddingOp(StageContext.one(spark, v, Cfg.of(
          "id_column" -> "vec_id", "vector_column" -> "embedding",
          "threshold" -> 0.95, "blocking" -> "bands",
          "bands" -> 16, "band_planes" -> 16, "seed" -> 11))).count()
      }
      val bsigs = v.select(F.col("vec_id").as("id"), F.posexplode(
          DedupEmbeddingOp.bandSignatures(F.col("embedding"), 64, 16, 16, 11)))
        .toDF("id", "band", "bucket")
      val bcands = bsigs.as("a").join(bsigs.as("b"),
          F.col("a.band") === F.col("b.band") &&
          F.col("a.bucket") === F.col("b.bucket") &&
          F.col("a.id") < F.col("b.id"))
        .select("a.id", "b.id").distinct().count()
      report("dedup.embedding.bands", n, bndSec, "survivors" -> bndKept, "bucket_pairs" -> bcands)

      // dedup.substrings (Lee 2022 ExactSubstr) — annotate mode
      val (ssSec, ssRows) = timed {
        SubstringDedupOp(StageContext.one(spark, d, Cfg.of(
          "id_column" -> "doc_id", "column" -> "text",
          "min_tokens" -> 50, "mode" -> "annotate"))).count()
      }
      report("dedup.substrings", n, ssSec, "rows" -> ssRows)

      // incremental probe: index the corpus once, then dedup a 10% batch
      // (half copies of indexed docs, half novel) against it
      val idx = java.nio.file.Files.createTempDirectory(s"graft_scale_idx_$n").toString
      IndexBuildOp(StageContext.one(spark, d, Cfg.of(
        "type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "shingle_size" -> 3, "num_hashes" -> 128,
        "bands" -> 32, "seed" -> 42)))
      val b = n / 10
      val batch = spark.range(b.toLong).select(
        (F.col("id") + (10L * n)).as("doc_id"),
        // even slots: copy of an indexed doc (id*2 → always < n); odd:
        // novel text from beyond the corpus id space
        F.when(F.col("id") % 2 === 0, textUdf(F.col("id") * 2))
          .otherwise(textUdf(F.col("id") + (20L * n))).as("text"))
      val (incSec, incKept) = timed {
        DedupMinHashOp(StageContext.one(spark, batch, Cfg.of(
          "id_column" -> "doc_id", "text_column" -> "text",
          "threshold" -> 0.8, "index_path" -> idx))).count()
      }
      report("dedup.minhash.incremental", n, incSec, "batch" -> b.toLong, "survivors" -> incKept)

      // embedding incremental probe: lsh index over the corpus vectors,
      // batch = same 10% copy/novel mix probed via index_path
      val idxE = java.nio.file.Files.createTempDirectory(s"graft_scale_eidx_$n").toString
      IndexBuildOp(StageContext.one(spark, v, Cfg.of(
        "type" -> "lsh", "path" -> idxE, "vector_column" -> "embedding",
        "num_planes" -> 32, "blocks" -> 4, "seed" -> 11, "partition_dirs" -> 64)))
      val vbatch = spark.range(b.toLong).select(
        (F.col("id") + (10L * n)).as("vec_id"),
        F.when(F.col("id") % 2 === 0, vecUdf(F.col("id") * 2))
          .otherwise(vecUdf(F.col("id") + (20L * n))).as("embedding"))
      val (eincSec, eincKept) = timed {
        DedupEmbeddingOp(StageContext.one(spark, vbatch, Cfg.of(
          "id_column" -> "vec_id", "vector_column" -> "embedding",
          "threshold" -> 0.95, "index_path" -> idxE))).count()
      }
      report("dedup.embedding.incremental", n, eincSec, "batch" -> b.toLong, "survivors" -> eincKept)

      // BANDED incremental probe (r7 — the two flagship scale features
      // composed): bands index over the corpus, same 10% batch probed via
      // index_path. cross_pairs = the (band, bsig) join cardinality — the
      // direct candidate evidence that the banded probe stays ~linear in
      // batch size (2^band_planes reduction per band, vs the pigeonhole
      // probe's recall-capped 2^8)
      val idxB = java.nio.file.Files.createTempDirectory(s"graft_scale_bidx_$n").toString
      IndexBuildOp(StageContext.one(spark, v, Cfg.of(
        "type" -> "lsh", "blocking" -> "bands", "path" -> idxB,
        "vector_column" -> "embedding", "bands" -> 16, "band_planes" -> 16,
        "seed" -> 11, "partition_dirs" -> 64)))
      val (bincSec, bincKept) = timed {
        DedupEmbeddingOp(StageContext.one(spark, vbatch, Cfg.of(
          "id_column" -> "vec_id", "vector_column" -> "embedding",
          "threshold" -> 0.95, "index_path" -> idxB))).count()
      }
      val batchBsigs = vbatch.select(F.col("vec_id").as("id"), F.posexplode(
          DedupEmbeddingOp.bandSignatures(F.col("embedding"), 64, 16, 16, 11)))
        .toDF("id", "band", "bucket")
      val bcross = batchBsigs.as("a").join(bsigs.as("b"),
          F.col("a.band") === F.col("b.band") &&
          F.col("a.bucket") === F.col("b.bucket")).count()
      report("dedup.embedding.bands.incremental", n, bincSec,
        "batch" -> b.toLong, "survivors" -> bincKept, "cross_pairs" -> bcross)

      // knn.join (r7 probe): 500 queries × n corpus — brute force vs the
      // index-pruned probe at probe_hamming 0/1/2. candidate_pairs = the
      // (block, bucket) join cardinality, the evidence behind "the corpus
      // is never fully scanned": brute force always scores 500·n pairs,
      // the pruned probe scores only bucket collisions
      val q500 = v.filter(F.col("vec_id") < 500)
      val (kjbSec, kjbRows) = timed {
        KnnJoinOp(StageContext(spark, Seq("q" -> q500, "c" -> v), Cfg.of(
          "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 10))).count()
      }
      report("knn.join.bruteforce", n, kjbSec,
        "queries" -> 500L, "scored_pairs" -> 500L * n, "rows" -> kjbRows)
      for (dH <- Seq(0, 1, 2)) {
        val (s, rws) = timed {
          KnnJoinOp(StageContext.one(spark, q500, Cfg.of(
            "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 10,
            "index_path" -> idxE, "probe_hamming" -> dH))).count()
        }
        val qb0 = q500.select(F.col("vec_id").as("qid"), F.posexplode(
            LshLayout.Pigeonhole.blockKeys(
              DedupEmbeddingOp.hyperplaneSig(F.col("embedding"), 64, 32, 11), 4, 8)))
          .toDF("qid", "block", "bucket")
        val qb = if (dH == 0) qb0 else {
          val neighborhood = F.udf { x: Long =>
            (0L until 256L).filter(y => java.lang.Long.bitCount(y ^ x) <= dH).toArray
          }
          qb0.withColumn("bucket", F.explode(neighborhood(F.col("bucket"))))
        }
        val cand = qb.as("a").join(blocked.as("b"),
            F.col("a.block") === F.col("b.block") &&
            F.col("a.bucket") === F.col("b.bucket")).count()
        report("knn.join.lsh", n, s,
          "probe_hamming" -> dH.toLong, "candidate_pairs" -> cand, "rows" -> rws)
      }

      // bands-index probe (exact band agreement, d=0) — the r7 flagship
      // layout under the batch-ANN workload, against the SAME bands index
      // the incremental probe used
      val (bkjSec, bkjRows) = timed {
        KnnJoinOp(StageContext.one(spark, q500, Cfg.of(
          "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 10,
          "index_path" -> idxB))).count()
      }
      val qbB = q500.select(F.col("vec_id").as("qid"), F.posexplode(
          DedupEmbeddingOp.bandSignatures(F.col("embedding"), 64, 16, 16, 11)))
        .toDF("qid", "band", "bucket")
      val candB = qbB.as("a").join(bsigs.as("b"),
          F.col("a.band") === F.col("b.band") &&
          F.col("a.bucket") === F.col("b.bucket")).count()
      report("knn.join.bands", n, bkjSec, "candidate_pairs" -> candB, "rows" -> bkjRows)
    }

    quiet = true; run(500); quiet = false // warm pass: codegen/plan caches, output discarded
    sizes.foreach(run)
    spark.stop()
  }

  /** `sbt "runMain graft.ScaleProbe stream [nBatches] [compactEvery]"` —
    * stream.ingest's corpus-lifetime claim, measured per batch: the
    * justification for streaming ingestion is that each micro-batch costs
    * ONE batch-vs-index banded probe (flat in corpus lifetime), not a
    * rescan — but the gates pin only 2 micro-batches. This drives
    * ~nBatches available-now batches (one file per trigger) into a
    * growing bands index and prints each batch's trigger wall from the
    * StreamingQueryListener, so a drifting per-batch wall exposes probe
    * cost OR snapshot-listing cost creeping with append count.
    *
    * With `compactEvery = K` the probe runs the full MAINTENANCE LOOP a
    * deployment would: ingest K batches (one available-now run), stop at
    * the committed batch, index.compact force=true + ingest.compact (both
    * behind compact_if), resume the same checkpoint. The r8 measurement:
    * WITHOUT compaction per-batch wall grows ~5× over 50 batches (the
    * per-tag dir explosion — 1.6k corpus files); with compaction every 10
    * it stays flat. Results → BENCH_NOTES "r8". */
  private def streamProbe(nBatches: Int, compactEvery: Option[Int]): Unit = {
    import graft.streaming.StreamIngestSink
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vecUdf = F.udf(docVec _)
    def vecs(from: Long, count: Long): DataFrame = spark.range(from, from + count)
      .select(F.col("id").as("vec_id"), vecUdf(F.col("id")).as("embedding"))

    val idx = java.nio.file.Files.createTempDirectory("graft_sp_idx").toString
    IndexBuildOp(StageContext.one(spark, vecs(0, 5000), Cfg.of(
      "type" -> "lsh", "blocking" -> "bands", "path" -> idx,
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "bands" -> 8, "band_planes" -> 12, "seed" -> 11, "partition_dirs" -> 4)))
    // incoming: one parquet FILE per future micro-batch — 200 vectors
    // each, half near-copies of already-ingested ids (planted drops that
    // exercise the probe join), half novel (index growth)
    val incoming = java.nio.file.Files.createTempDirectory("graft_sp_in").toString
    (0 until nBatches).foreach { i =>
      val from = 1000000L + i * 200L
      spark.range(from, from + 200L).select(
        F.col("id").as("vec_id"),
        F.when(F.col("id") % 2 === 0, vecUdf(F.col("id") % 5000))
          .otherwise(vecUdf(F.col("id"))).as("embedding"))
        .coalesce(1).write.parquet(s"$incoming/b$i")
    }
    // flatten: file.stream triggers per FILE; give it one dir of files
    val flat = java.nio.file.Files.createTempDirectory("graft_sp_flat").toString
    (0 until nBatches).foreach { i =>
      import scala.jdk.CollectionConverters._
      val src = java.nio.file.Files.list(java.nio.file.Paths.get(s"$incoming/b$i"))
      try src.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => java.nio.file.Files.copy(p,
          java.nio.file.Paths.get(f"$flat/batch-$i%04d.parquet")))
      finally src.close()
    }
    val walls = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L)
        if (p.numInputRows > 0) walls.synchronized {
          walls += ((p.batchId, ms, p.numInputRows))
        }
      }
    }
    spark.streams.addListener(listener)
    val staging = flat + ".staging"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(staging))
    // with compactEvery: stage files in waves — each available-now run
    // drains only the new wave, then the quiesced maintenance verbs run
    val wave = compactEvery.getOrElse(nBatches)
    val flatFiles = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(flat))
      try s.iterator().asScala.map(_.getFileName.toString).toVector.sorted
      finally s.close()
    }
    if (compactEvery.isDefined) flatFiles.foreach { f =>
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$flat/$f"),
        java.nio.file.Paths.get(s"$staging/$f"))
    }
    val out = java.nio.file.Files.createTempDirectory("graft_sp_out").toString + "/data"
    val t0 = System.nanoTime()
    flatFiles.grouped(wave).zipWithIndex.foreach { case (files, w) =>
      if (compactEvery.isDefined) files.foreach { f =>
        java.nio.file.Files.move(java.nio.file.Paths.get(s"$staging/$f"),
          java.nio.file.Paths.get(s"$flat/$f"))
      }
      val stream = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(flat)
      StreamIngestSink(StageContext.one(spark, stream, Cfg.of(
        "path" -> out, "index_path" -> idx, "dedup" -> "embedding",
        "trigger" -> "available_now", "id_column" -> "vec_id",
        "vector_column" -> "embedding", "threshold" -> 0.95)))
      compactEvery.foreach { k =>
        // the stream is quiesced at a committed batch between runs — the
        // exact contract index.compact's force flag asserts; compact_if
        // makes both verbs no-ops when fragmentation hasn't accumulated
        val tc0 = System.nanoTime()
        IndexCompactOp(StageContext.one(spark, vecs(0, 1), Cfg.of(
          "path" -> idx, "force" -> true,
          "compact_if" -> Map("appends_since_compact_above" -> k.toLong))))
        IngestCompactOp(StageContext.one(spark, vecs(0, 1), Cfg.of(
          "path" -> out,
          "compact_if" -> Map("batch_dirs_above" -> 1L))))
        println(f"""{"op":"stream.ingest.compact","after_wave":$w,""" +
          f""""sec":${(System.nanoTime() - tc0) / 1e9}%.2f}""")
      }
    }
    val total = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(listener)
    walls.sortBy(_._1).foreach { case (id, ms, rows) =>
      println(s"""{"op":"stream.ingest.batch","batch":$id,"ms":$ms,"rows":$rows}""")
    }
    val ingested = spark.read.parquet(out).count()
    val corpusFiles = IndexSnapshot.files(IndexSnapshot.corpusDir(idx), "stream probe: no corpus").size
    println(f"""{"op":"stream.ingest.lifetime","batches":${walls.size},""" +
      f""""total_sec":$total%.1f,"ingested":$ingested,"index_files":$corpusFiles}""")
    spark.stop()
  }

  /** `sbt "runMain graft.ScaleProbe probebands [n]"` — the probe_bands
    * knob, measured: the bands layout amplifies the corpus ×bands, and the
    * r7 addendum showed the FULL bands probe losing to pigeonhole on wall
    * despite 22× fewer candidates (scan amplification dominates).
    * probe_bands = j probes the first j bands only — SCANNED data is
    * statically bounded at j/bands while near-exact recall follows
    * 1 − miss^j (a planted 0.9998-cosine pair collides per band with
    * p ≈ 0.91 at 16 planes). At gate scale the WALL is overhead-dominated
    * (listing/planning/query-side sigs), so the r8 measurement reports
    * recall-vs-j plus the static scan bound — the wall win materializes
    * when the ×bands corpus no longer fits the page cache. Results →
    * BENCH_NOTES "r8". */
  /** shards.write scaling: n docs with precomputed token counts (mean
    * ~550, the token_column fast path — the probe measures the SHARDING
    * machinery: TwoPass prefix sum + one shard-keyed shuffle + the
    * partitioned write, not tokenization), 1 Mi-token budget. Evidence
    * columns: wall seconds, shard count, data files (must equal shards —
    * the one-file-per-shard contract is what keeps downstream listing
    * O(shards)), manifest rows. Linear wall growth with flat
    * files-per-shard is the pass criterion. */
  /** `waves` > 0 = shards_per_commit (the restartable-export wave size);
    * 0 = single commit. The wave rung prices the restartability tax:
    * extra per-wave commit jobs + boundary-partition double reads
    * (PartitionPruningRDD keeps everything else read-once). `budget` is
    * shard_tokens — drop it to mint MANY shards from the same corpus: the
    * 10^5-shard rung (budget ~5.5k at 1M docs) stresses the shard-COUNT
    * axis (manifest = one row per shard, 10^5 output dirs in one dynamic
    * write, _progress markers per wave) independent of data volume. */
  private def shardsProbe(n: Int, waves: Long, budget: Long): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_shp").toString
    spark.range(n.toLong).select(F.col("id").as("doc_id"),
        F.concat(F.lit("synthetic document "), F.col("id")).as("text"),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(900L)) + 100L).as("n_tok"))
      .write.parquet(s"$dir/docs")
    val d = spark.read.parquet(s"$dir/docs")
    val out = s"$dir/export"
    spark.catalog.clearCache(); System.gc()
    val t0 = System.nanoTime()
    val manifest = ShardWriteOp(StageContext.one(spark, d, Cfg.of(
      "path" -> out, "order_by" -> Seq("doc_id"),
      "token_column" -> "n_tok", "shard_tokens" -> budget,
      "shards_per_commit" -> waves)))
    val shards = manifest.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val files = graft.core.GraftFs.listFilesRec(out).count { case (f, _) =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      name.startsWith("part-") && f.contains("/shard=")
    }
    val heapMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576
    println(f"""{"op":"shards.write","n":$n,"waves":$waves,"budget":$budget,""" +
      f""""sec":$sec%.2f,"shards":$shards,"data_files":$files,"driver_heap_mb":$heapMb}""")
    spark.stop()
  }

  private def probeBandsProbe(n: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vecUdf = F.udf(docVec _)
    val dir = java.nio.file.Files.createTempDirectory("graft_pb").toString
    spark.range(n.toLong)
      .select(F.col("id").as("vec_id"), vecUdf(F.col("id")).as("embedding"))
      .write.parquet(s"$dir/vecs")
    val v = spark.read.parquet(s"$dir/vecs")
    val bands = 16
    val idx = s"$dir/idx"
    IndexBuildOp(StageContext.one(spark, v, Cfg.of(
      "type" -> "lsh", "blocking" -> "bands", "path" -> idx,
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "bands" -> bands, "band_planes" -> 16, "seed" -> 11, "partition_dirs" -> 64)))
    val q500 = v.filter(F.col("vec_id") < 500)
    // planted near-dups: queries q where q % 20 == 19 have a near-copy at
    // q-1 — the near-exact workload the bands layout serves; recall@j =
    // how many of those planted neighbors each bounded probe still finds
    val planted = (0 until 500).filter(_ % 20 == 19).map(_.toLong).toSet
    def run(j: Int): Unit = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val res = KnnJoinOp(StageContext.one(spark, q500, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 10,
        "index_path" -> idx, "probe_bands" -> j)))
      val found = res.filter(F.col("query_id").isin(planted.toSeq: _*) &&
          F.col("corpus_id") === F.col("query_id") - 1)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"knn.join.probe_bands","n":$n,"probe_bands":$j,""" +
        f""""sec":$sec%.2f,"planted":${planted.size},"planted_found":$found}""")
    }
    run(bands) // warm pass doubles as the full-probe baseline
    Seq(1, 2, 4, 8, bands).foreach(run)
    spark.stop()
  }

  /** `sbt "runMain graft.ScaleProbe ann [n]"` — the ANN rung ABOVE the
    * 5k/15k/50k series (default 200k; measured to 2M — BENCH_NOTES r11): knn.join
    * pigeonhole vs bands (full probe AND probe_bands=4) plus the banded
    * incremental dedup probe, each reported with wall, the CANDIDATE-PAIR
    * count driving compute, and the FILES the probe's snapshot lists /
    * reads — the r8 lesson being that at this scale the file-count story
    * matters as much as the pair count. Candidate counts come from
    * per-bucket occupancy aggregation (Σ cntA·cntB per colliding bucket),
    * O(n) to compute — materializing the candidate join at 200k+ would
    * itself be the quadratic shape the probe exists to rule out. */
  private def annProbe(n: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vecUdf = F.udf(docVec _)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ann_$n").toString
    spark.range(n.toLong)
      .select(F.col("id").as("vec_id"), vecUdf(F.col("id")).as("embedding"))
      .write.parquet(s"$dir/vecs")
    val v = spark.read.parquet(s"$dir/vecs")
    val (bands, planes, pdirs) = (16, 16, 64)

    val idxP = s"$dir/idx_pigeonhole"
    IndexBuildOp(StageContext.one(spark, v, Cfg.of(
      "type" -> "lsh", "path" -> idxP, "id_column" -> "vec_id",
      "vector_column" -> "embedding", "num_planes" -> 32, "blocks" -> 4,
      "seed" -> 11, "partition_dirs" -> pdirs)))
    val idxB = s"$dir/idx_bands"
    IndexBuildOp(StageContext.one(spark, v, Cfg.of(
      "type" -> "lsh", "blocking" -> "bands", "path" -> idxB,
      "id_column" -> "vec_id", "vector_column" -> "embedding",
      "bands" -> bands, "band_planes" -> planes, "seed" -> 11,
      "partition_dirs" -> pdirs)))

    def corpusFiles(idx: String): Seq[String] =
      IndexSnapshot.files(IndexSnapshot.corpusDir(idx), s"ann: no corpus at $idx")
    val filesP = corpusFiles(idxP)
    val filesB = corpusFiles(idxB)

    // per-bucket occupancy, both layouts — candidate counts by
    // aggregation. ALL evidence numbers are computed UP FRONT, before any
    // timed run: the timed harness clears the Spark cache between runs
    // (operators persist intermediates), so interleaving the evidence
    // jobs with the timed ones would recompute the n-row signature
    // aggregations once per probe
    val blockedCnt = v.select(F.col("vec_id").as("id"), F.posexplode(
        LshLayout.Pigeonhole.blockKeys(
          DedupEmbeddingOp.hyperplaneSig(F.col("embedding"), 64, 32, 11), 4, 8)))
      .toDF("id", "block", "bucket")
      .groupBy("block", "bucket").count()
    val bsigsCnt = v.select(F.col("vec_id").as("id"), F.posexplode(
        DedupEmbeddingOp.bandSignatures(F.col("embedding"), 64, bands, planes, 11)))
      .toDF("id", "band", "bucket")
      .groupBy("band", "bucket").count()
    val q500 = v.filter(F.col("vec_id") < 500)
    val qBlocked = q500.select(F.col("vec_id").as("qid"), F.posexplode(
        LshLayout.Pigeonhole.blockKeys(
          DedupEmbeddingOp.hyperplaneSig(F.col("embedding"), 64, 32, 11), 4, 8)))
      .toDF("qid", "block", "bucket")
    val qBands = q500.select(F.col("vec_id").as("qid"), F.posexplode(
        DedupEmbeddingOp.bandSignatures(F.col("embedding"), 64, bands, planes, 11)))
      .toDF("qid", "band", "bucket")
    // Σ count over colliding buckets; coalesce — SUM over zero rows is
    // null, and an empty collision set must read as 0, not NPE
    def sumCollisions(q: DataFrame, cnt: DataFrame, keys: Seq[String]): Long =
      q.join(cnt, keys).agg(F.coalesce(F.sum("count"), F.lit(0L))).head().getLong(0)
    val hamming1 = F.udf { x: Long =>
      (0L until 256L).filter(y => java.lang.Long.bitCount(y ^ x) <= 1).toArray
    }
    val candByHamming = Map(
      0 -> sumCollisions(qBlocked, blockedCnt, Seq("block", "bucket")),
      1 -> sumCollisions(qBlocked.withColumn("bucket",
             F.explode(hamming1(F.col("bucket")))), blockedCnt, Seq("block", "bucket")))
    val candByBands = Seq(bands, 4).map(j => j ->
      sumCollisions(qBands.filter(F.col("band") < j), bsigsCnt, Seq("band", "bucket"))).toMap
    // banded incremental batch (10%): built + measured later, evidence now
    val b = n / 10
    spark.range(b.toLong).select(
      (F.col("id") + (10L * n)).as("vec_id"),
      F.when(F.col("id") % 2 === 0, vecUdf(F.col("id") * 2))
        .otherwise(vecUdf(F.col("id") + (20L * n))).as("embedding"))
      .write.parquet(s"$dir/batch")
    val vb = spark.read.parquet(s"$dir/batch")
    val crossPairs = sumCollisions(
      vb.select(F.col("vec_id").as("qid"), F.posexplode(
          DedupEmbeddingOp.bandSignatures(F.col("embedding"), 64, bands, planes, 11)))
        .toDF("qid", "band", "bucket"),
      bsigsCnt, Seq("band", "bucket"))

    def timed(body: => Long): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }

    // brute-force baseline: every query scores every corpus row
    val (bfSec, bfRows) = timed {
      KnnJoinOp(StageContext(spark, Seq("q" -> q500, "c" -> v), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 10))).count()
    }
    println(f"""{"op":"ann.knn.bruteforce","n":$n,"sec":$bfSec%.2f,""" +
      f""""scored_pairs":${500L * n},"rows":$bfRows}""")

    // pigeonhole probe, exact-bucket and hamming-1 expansion
    for (dH <- Seq(0, 1)) {
      val (s, rows) = timed {
        KnnJoinOp(StageContext.one(spark, q500, Cfg.of(
          "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 10,
          "index_path" -> idxP, "probe_hamming" -> dH))).count()
      }
      println(f"""{"op":"ann.knn.pigeonhole","n":$n,"probe_hamming":$dH,"sec":$s%.2f,""" +
        f""""candidate_pairs":${candByHamming(dH)},"files_listed":${filesP.size},"rows":$rows}""")
    }

    // bands probe: full (j = bands) and the bounded probe_bands = 4 —
    // files_read is the static `band < j` pruning bound over the listed set
    for (j <- Seq(bands, 4)) {
      val (s, rows) = timed {
        KnnJoinOp(StageContext.one(spark, q500, Cfg.of(
          "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 10,
          "index_path" -> idxB, "probe_bands" -> j))).count()
      }
      val filesRead = filesB.count { f =>
        "band=(\\d+)".r.findFirstMatchIn(f).forall(_.group(1).toInt < j)
      }
      println(f"""{"op":"ann.knn.bands","n":$n,"probe_bands":$j,"sec":$s%.2f,""" +
        f""""candidate_pairs":${candByBands(j)},"files_listed":${filesB.size},""" +
        f""""files_read":$filesRead,"rows":$rows}""")
    }

    // banded incremental dedup probe: 10% batch (written above), half
    // planted copies of indexed vectors, half novel — the streaming-ingest
    // per-batch shape
    val (incSec, incKept) = timed {
      DedupEmbeddingOp(StageContext.one(spark, vb, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "index_path" -> idxB))).count()
    }
    println(f"""{"op":"ann.dedup.bands.incremental","n":$n,"batch":$b,"sec":$incSec%.2f,""" +
      f""""cross_pairs":$crossPairs,"files_listed":${filesB.size},"survivors":$incKept}""")
    spark.stop()
  }

  /** `sbt "runMain graft.ScaleProbe ivfpq [n]"` — the PQ scanned-bytes
    * claim, measured: build ivf-flat and ivfpq over the same n vectors and
    * report (a) the parquet-footer COLUMN-CHUNK bytes each probe's
    * ReadSchema actually touches (flat probe: id + embedding; ADC probe:
    * id + pq_codes + pq_vnorm — the compression win is column pruning, so
    * the honest measure is column-chunk compressed size, not file size)
    * and (b) wall time over a 20-query loop per probe shape (flat, ADC +
    * exact rerank, ADC only). At gate scale the per-query wall is job
    * overhead; the scanned-bytes ratio is the number that predicts the
    * 100 TB behavior. */
  private def ivfpqProbe(n: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vecUdf = F.udf(docVec _)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ivfpq_$n").toString
    spark.range(n.toLong)
      .select(F.col("id").as("vec_id"), vecUdf(F.col("id")).as("embedding"))
      .write.parquet(s"$dir/vecs")
    val v = spark.read.parquet(s"$dir/vecs")
    val nlist = 64

    def timed[A](body: => A): (Double, A) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }

    val idxFlat = s"$dir/idx_flat"
    val (flatBuildSec, _) = timed {
      IndexBuildOp(StageContext.one(spark, v, Cfg.of(
        "type" -> "ivf", "path" -> idxFlat, "vector_column" -> "embedding",
        "nlist" -> nlist, "seed" -> 11)))
    }
    val idxPq = s"$dir/idx_pq"
    val (pqBuildSec, _) = timed {
      IndexBuildOp(StageContext.one(spark, v, Cfg.of(
        "type" -> "ivfpq", "path" -> idxPq, "vector_column" -> "embedding",
        "nlist" -> nlist, "m" -> 8, "ksub" -> 256, "seed" -> 11)))
    }

    // column-chunk compressed bytes per column set, straight from the
    // parquet footers — the bytes a column-pruned scan of the WHOLE corpus
    // would read (per-probe bytes are nprobe/nlist of this; the ratio is
    // the same)
    def chunkBytes(idx: String, cols: Set[String]): Long =
      Pq.columnChunkBytes(
        IndexSnapshot.files(IndexSnapshot.corpusDir(idx), s"ivfpq probe: no corpus at $idx"),
        cols)
    val flatScanBytes = chunkBytes(idxFlat, Set("vec_id", "embedding"))
    val adcScanBytes = chunkBytes(idxPq, Set("vec_id", "pq_codes", "pq_vnorm"))

    def probeLoop(idx: String, extra: (String, Any)*): Double = {
      val (sec, _) = timed {
        (0 until 20).foreach { q =>
          KnnIvfOp(StageContext.one(spark, v, Cfg.of(
            (Seq[(String, Any)]("query_id" -> (q * 37), "id_column" -> "vec_id",
              "vector_column" -> "embedding", "k" -> 10, "nprobe" -> 4,
              "index_path" -> idx) ++ extra): _*))).collect()
        }
      }
      sec
    }
    val flatSec = probeLoop(idxFlat)
    val pqSec = probeLoop(idxPq, "rerank" -> 4)
    val adcSec = probeLoop(idxPq, "rerank" -> 0)

    println(f"""{"op":"ivfpq.build","n":$n,"flat_sec":$flatBuildSec%.2f,""" +
      f""""pq_sec":$pqBuildSec%.2f}""")
    println(f"""{"op":"ivfpq.scan_bytes","n":$n,"flat_probe_cols":$flatScanBytes,""" +
      f""""adc_probe_cols":$adcScanBytes,""" +
      f""""ratio":${flatScanBytes.toDouble / math.max(1L, adcScanBytes)}%.1f}""")
    println(f"""{"op":"ivfpq.probe20","n":$n,"flat_sec":$flatSec%.2f,""" +
      f""""pq_rerank_sec":$pqSec%.2f,"adc_only_sec":$adcSec%.2f}""")
    spark.stop()
  }

  /** `sbt "runMain graft.ScaleProbe frag"` — the small-files claim behind
    * index.compact, measured: build a minhash index, grow it with many
    * small `index_append` batches (the incremental-ingestion usage
    * pattern), time the probe against the fragmented corpus, compact,
    * time the identical probe again. Survivor sets are asserted equal —
    * compaction is physical — so the delta is pure file-count cost. */
  private def fragProbe(): Unit = {
    import graft.operators.{DedupMinHashOp, IndexBuildOp, IndexCompactOp, IndexSnapshot}
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val textUdf = F.udf(docText _)
    def docs(from: Long, count: Long): DataFrame = spark.range(from, from + count)
      .select(F.col("id").as("doc_id"), textUdf(F.col("id")).as("text"))

    val idx = java.nio.file.Files.createTempDirectory("graft_frag_idx").toString
    IndexBuildOp(StageContext.one(spark, docs(0, 20000), Cfg.of(
      "type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
      "text_column" -> "text", "shingle_size" -> 3, "num_hashes" -> 128,
      "bands" -> 32, "seed" -> 42)))
    // 60 small ingestion batches of 50 novel docs each, appended in turn —
    // a day of hourly incremental runs, compressed
    (0 until 60).foreach { i =>
      DedupMinHashOp(StageContext.one(spark, docs(1000000L + i * 50L, 50), Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx, "index_append" -> true))).count()
    }
    val probeBatch = docs(2000000L, 500)
      .unionByName(docs(10000, 500).select((F.col("doc_id") + 3000000L).as("doc_id"), F.col("text")))
    def probe(): (Double, Long) = {
      val t0 = System.nanoTime()
      val kept = DedupMinHashOp(StageContext.one(spark, probeBatch, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx))).count()
      ((System.nanoTime() - t0) / 1e9, kept)
    }
    def files(): Int = IndexSnapshot.files(IndexSnapshot.corpusDir(idx), "frag: no corpus").size
    val filesBefore = files()
    val runsBefore = (0 until 3).map(_ => probe())
    IndexCompactOp(StageContext.one(spark, docs(0, 1), Cfg.of("path" -> idx)))
    val filesAfter = files()
    val runsAfter = (0 until 3).map(_ => probe())
    require(runsBefore.map(_._2).distinct == runsAfter.map(_._2).distinct,
      "compaction changed probe results")
    println(f"""{"op":"index.fragmentation","appends":60,"files_before":$filesBefore,""" +
      f""""sec_before":${runsBefore.map(_._1).min}%.2f,"files_after":$filesAfter,""" +
      f""""sec_after":${runsAfter.map(_._1).min}%.2f,"survivors":${runsAfter.head._2}}""")
    spark.stop()
  }
}
