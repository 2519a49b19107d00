package graft.queries

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.config.Cfg
import graft.core.StageContext
import graft.operators._
import graft.streaming.{SessionWindowOp, TimeWindowOp}
import QueryDef.t

/** Training-data extension queries: dedup family, text analysis, similarity
  * search, multimodal plumbing, event-time windows.
  *
  * Oracle notes:
  *  - the documents corpus contains 25 PLANTED near-dup pairs (all word-
  *     3-shingle Jaccard >= 0.967; every other pair <= 0.067), so dedup
  *    thresholds at 0.8 are deterministic: LSH recall at J>=0.967 with 32
  *    bands of 4 is 1 - (1-J^4)^32 ~ 1-1e-46. The oracle computes the
  *    EXACT pairwise criterion in SQL.
  *  - events.ts is ns-precision; Spark truncates to us — oracle output
  *    never exposes raw ts (hour-truncated / floor-to-second only).
  */
object ExtensionQueries {

  /** Pin every file already in `dir` to an mtime safely in the past, so a
    * subsequently written file sorts AFTER it in file.stream's
    * (timestamp, path) micro-batch order. Replaces the Thread.sleep(400)
    * the streaming gates used to pay inside their timed window — the
    * micro-batch order is identical (now separated by 60 s instead of
    * 400 ms), the 0.4 s of wall is not computation and is gone. */
  private def backdate(dir: String): Unit = {
    val t = System.currentTimeMillis() - 60000L
    val files = new java.io.File(dir).listFiles()
    val ok = files == null || files.forall(_.setLastModified(t))
    // setLastModified can legitimately return false (FS without mtime
    // writes): the micro-batch order then has nothing pinning it, so fall
    // back to the old wall-clock separation rather than go nondeterministic
    if (!ok) Thread.sleep(400)
  }

  private val duckToks =
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"

  /** DuckDB restatement of Bpe.learnMerges for `m` merges (see the
    * bpe_train QueryDef comment for the double-replace soundness
    * argument). MATERIALIZED is required: the layers chain, and inlined
    * CTEs would re-evaluate the whole prefix per reference (~5^m scans). */
  private def bpeTrainOracle(m: Int): String = {
    val sb = new StringBuilder(
      """WITH w0 AS MATERIALIZED (
        |  SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s, f FROM (
        |    SELECT w, count(*) AS f FROM (
        |      SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
        |    WHERE len(w) > 0 GROUP BY w ORDER BY f DESC, w LIMIT 50000)
        |)""".stripMargin)
    for (k <- 1 to m) {
      val prev = s"w${k - 1}"
      sb ++= s""",
        |b$k AS MATERIALIZED (
        |  SELECT t[i] AS l, t[i+1] AS r, sum(f) AS cnt
        |  FROM (SELECT string_split(trim(s), ' ') AS t, f FROM $prev),
        |       LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i)
        |  GROUP BY 1, 2 HAVING sum(f) >= 2
        |  ORDER BY cnt DESC, l, r LIMIT 1
        |),
        |w$k AS MATERIALIZED (SELECT replace(replace(s,
        |    (SELECT ' '||l||' '||r||' ' FROM b$k), (SELECT ' '||l||r||' ' FROM b$k)),
        |    (SELECT ' '||l||' '||r||' ' FROM b$k), (SELECT ' '||l||r||' ' FROM b$k)) AS s, f
        |  FROM $prev)""".stripMargin
    }
    sb ++= "\n"
    sb ++= (1 to m).map(k =>
      s"""SELECT CAST(${k - 1} AS BIGINT) AS rank, l AS "left", r AS "right" FROM b$k""")
      .mkString("", "\nUNION ALL ", "\nORDER BY rank")
    sb.toString
  }

  private def duckLangScores: String =
    TextFns.stopwords.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(w, x -> list_contains($lst, x))) AS s_$lang"
    }.mkString(", ")

  private def duckLangCase: String = {
    val langs = TextFns.stopwords.map(_._1)
    val best = langs.map("s_" + _).mkString("greatest(", ", ", ")")
    val whens = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
    s"CASE WHEN $best <= 0 THEN 'und' $whens ELSE 'und' END"
  }

  val all: Seq[QueryDef] = Seq(

    // ---- dedup.exact: corpus ∪ exact copies → first (min doc_id) row
    // per distinct text survives. The oracle states that rule directly so
    // it holds even when the corpus itself contains repeated texts (sf0.1
    // has 8 twice-occurring texts; "SELECT * FROM documents" would not).
    QueryDef("dedup_exact",
      """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM (SELECT * FROM documents
        |        UNION ALL
        |        SELECT doc_id + 10000, text, lang, source, n_chars FROM documents))
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val copies = docs.withColumn("doc_id", F.col("doc_id") + 10000)
      val corpus = docs.unionByName(copies)
      DedupExactOp(StageContext.one(s, corpus, Cfg.of(
        "columns" -> Seq("text"), "keep" -> "first", "order_by" -> Seq("doc_id"))))
    },

    // ---- dedup.minhash on the REAL planted near-dups ----
    QueryDef("dedup_minhash",
      """WITH toks AS (SELECT doc_id, """ + duckToks + """ AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s FROM toks),
        |dropped AS (SELECT DISTINCT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT d.* FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin) { (s, d) =>
      DedupMinHashOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "shingle_size" -> 3, "num_hashes" -> 128, "bands" -> 32,
        "threshold" -> 0.8, "seed" -> 42)))
    },

    // ---- incremental EXACT dedup against a persisted key index: same
    // equivalence shape as dedup_minhash_incremental — batch ids above
    // index ids make "index wins" ≡ full-corpus keep-first — with the
    // oracle one row_number pass over the union. Modified docs carry a
    // per-row unique suffix, so they survive both engines.
    QueryDef("dedup_exact_incremental",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, text || ' zq' || CAST(doc_id AS VARCHAR)
        |    FROM documents WHERE doc_id >= 450)
        |SELECT doc_id, text FROM (
        |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM corpus)
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val idx = java.nio.file.Files.createTempDirectory("graft_ex_idx").toString
      IndexBuildOp(StageContext.one(s, docs, Cfg.of(
        "type" -> "exact", "path" -> idx, "columns" -> Seq("text"))))
      val batch2 = docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).as("doc_id"), F.col("text"))
        .unionByName(docs.filter(F.col("doc_id") >= 450)
          .select((F.col("doc_id") + 20000).as("doc_id"),
            F.concat(F.col("text"), F.lit(" zq"), F.col("doc_id").cast("string")).as("text")))
      val d1 = DedupExactOp(StageContext.one(s, docs, Cfg.of(
        "columns" -> Seq("text"), "keep" -> "first", "order_by" -> Seq("doc_id"))))
      val d2 = DedupExactOp(StageContext.one(s, batch2, Cfg.of(
        "columns" -> Seq("text"), "keep" -> "first", "order_by" -> Seq("doc_id"),
        "index_path" -> idx)))
      d1.unionByName(d2)
    },

    // ---- incremental NGRAM dedup against a persisted ngram index: the
    // char-gram sibling of dedup_minhash_incremental — same corpus/batch
    // construction, same full-corpus equivalence (batch-2 ids all exceed
    // batch-1 ids, so "index wins" ≡ one pairwise exact-Jaccard pass over
    // the union), oracle = the dedup_ngram criterion over the union.
    QueryDef("dedup_ngram_incremental",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, reverse(text) FROM documents WHERE doc_id >= 400),
        |n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS nt FROM corpus),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |        generate_series(1, greatest(1, length(nt) - 4)),
        |        i -> substring(nt, i, 5))) AS s FROM n),
        |dropped AS (SELECT DISTINCT b.doc_id FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT c.doc_id, c.text FROM corpus c
        |WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val batch2 = docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).as("doc_id"), F.col("text"))
        .unionByName(docs.filter(F.col("doc_id") >= 400)
          .select((F.col("doc_id") + 20000).as("doc_id"), F.reverse(F.col("text")).as("text")))
      val idx = java.nio.file.Files.createTempDirectory("graft_ng_idx").toString
      IndexBuildOp(StageContext.one(s, docs, Cfg.of(
        "type" -> "ngram", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "ngram_size" -> 5, "bands" -> 8,
        "rows_per_band" -> 6, "seed" -> 7)))
      val d1 = DedupNgramOp(StageContext.one(s, docs, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "ngram_size" -> 5, "bands" -> 8, "rows_per_band" -> 6,
        "threshold" -> 0.8, "seed" -> 7)))
      val d2 = DedupNgramOp(StageContext.one(s, batch2, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx)))
      d1.unionByName(d2)
    },

    // ---- incremental SIMHASH dedup (custom 64-bit hamming criterion —
    // not SQL-expressible → rows-only; exactness pinned in
    // IncrementalDedupSpec against hand-built batches) ----
    QueryDef.noOracle("dedup_simhash_incremental") { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val idx = java.nio.file.Files.createTempDirectory("graft_sh_idx").toString
      IndexBuildOp(StageContext.one(s, docs, Cfg.of(
        "type" -> "simhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text")))
      val batch2 = docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).as("doc_id"), F.col("text"))
        .unionByName(docs.filter(F.col("doc_id") >= 400)
          .select((F.col("doc_id") + 20000).as("doc_id"), F.reverse(F.col("text")).as("text")))
      DedupSimHashOp(StageContext.one(s, batch2, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "max_distance" -> 3, "index_path" -> idx)))
    },

    // ---- incremental EMBEDDING dedup against a persisted lsh index (the
    // third sibling): copies of every indexed vector drop (cosine 1 vs
    // the index), negated vectors survive (cosine −1 vs their originals;
    // pairwise cosines among negations equal the originals', which the
    // dedup_embedding gate already pins as having no ≥ 0.95 pairs).
    QueryDef("dedup_embedding_incremental",
      "SELECT vec_id + 20000 AS vec_id, label FROM embeddings") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
      // full signature width (strong Hamming prefilter) with gate-scale
      // dir count: partition_dirs bounds the layout at 4 × 16 = 64 dirs
      // regardless of the 256-bucket signature space
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "lsh", "path" -> idx, "vector_column" -> "embedding",
        "num_planes" -> 32, "blocks" -> 4, "seed" -> 11, "partition_dirs" -> 16)))
      }
      val batch = emb.select((F.col("vec_id") + 10000).as("vec_id"),
          F.col("embedding"), F.col("label"))
        .unionByName(emb.select((F.col("vec_id") + 20000).as("vec_id"),
          F.transform(F.col("embedding"), x => -x).cast("array<float>").as("embedding"),
          F.col("label")))
      DedupEmbeddingOp(StageContext.one(s, batch.select("vec_id", "embedding", "label"), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "index_path" -> idx)))
        .select("vec_id", "label")
    },

    // ---- the r7 flagship composition: banded LSH (the corpus-scale
    // blocking) × incremental index (the corpus-lifetime path). Same
    // construction and oracle as dedup_embedding_incremental, but the
    // index is bands-partitioned (index.build type=lsh blocking=bands)
    // and the planted duplicates are the originals SCALED ×2 — cosine
    // exactly 1 but not byte-identical, so ExactCollapse cannot shortcut
    // them: every cross-drop must travel the banded (band, pband, bsig)
    // partition join itself. Positive scaling preserves every hyperplane
    // sign → recall is deterministic; negated vectors (cosine −1 vs their
    // originals) survive.
    QueryDef("dedup_embedding_bands_incremental",
      "SELECT vec_id + 20000 AS vec_id, label FROM embeddings") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_blsh_idx").toString
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "vector_column" -> "embedding", "bands" -> 8, "band_planes" -> 12,
        "seed" -> 11, "partition_dirs" -> 4)))
      }
      val batch = emb.select((F.col("vec_id") + 10000).as("vec_id"),
          F.transform(F.col("embedding"), x => x * F.lit(2.0f)).cast("array<float>").as("embedding"),
          F.col("label"))
        .unionByName(emb.select((F.col("vec_id") + 20000).as("vec_id"),
          F.transform(F.col("embedding"), x => -x).cast("array<float>").as("embedding"),
          F.col("label")))
      DedupEmbeddingOp(StageContext.one(s, batch.select("vec_id", "embedding", "label"), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "index_path" -> idx)))
        .select("vec_id", "label")
    },

    // ---- incremental dedup against a persisted minhash index: batch 1
    // (all documents) indexed via index.build type=minhash, batch 2 (exact
    // copies of ids < 50, reversed texts of ids >= 400) deduped with
    // index_path. With batch-2 ids above every indexed id, "the index
    // always wins" equals the full-corpus pairwise min-id rule, so the
    // oracle is one pairwise exact-Jaccard pass over the WHOLE union —
    // copies drop (Jaccard 1 vs originals), reversed docs survive unless
    // near-matching each other.
    QueryDef("dedup_minhash_incremental",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, reverse(text) FROM documents WHERE doc_id >= 400),
        |toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM corpus),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s FROM toks),
        |dropped AS (SELECT DISTINCT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT c.doc_id, c.text FROM corpus c
        |WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val batch2 = docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).as("doc_id"), F.col("text"))
        .unionByName(docs.filter(F.col("doc_id") >= 400)
          .select((F.col("doc_id") + 20000).as("doc_id"), F.reverse(F.col("text")).as("text")))
      val idx = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, docs, Cfg.of(
        "type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "shingle_size" -> 3, "num_hashes" -> 128,
        "bands" -> 32, "seed" -> 42)))
      }
      val d1 = DedupMinHashOp(StageContext.one(s, docs, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "shingle_size" -> 3, "num_hashes" -> 128, "bands" -> 32,
        "threshold" -> 0.8, "seed" -> 42)))
      val d2 = DedupMinHashOp(StageContext.one(s, batch2, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx)))
      d1.unionByName(d2)
    },

    // ---- index.compact parity: the SAME corpus/batch/oracle as
    // dedup_minhash_incremental, but the index is built FRAGMENTED (two
    // halves, build + mode=append) and compacted before the probe —
    // compaction is purely physical, so the probe's survivors must
    // hash-match the single-build path's oracle exactly.
    QueryDef("index_compact_parity",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, reverse(text) FROM documents WHERE doc_id >= 400),
        |toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM corpus),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s FROM toks),
        |dropped AS (SELECT DISTINCT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT c.doc_id, c.text FROM corpus c
        |WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val batch2 = docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).as("doc_id"), F.col("text"))
        .unionByName(docs.filter(F.col("doc_id") >= 400)
          .select((F.col("doc_id") + 20000).as("doc_id"), F.reverse(F.col("text")).as("text")))
      val idx = java.nio.file.Files.createTempDirectory("graft_ic_idx").toString
      val mhCfg = Seq[(String, Any)]("type" -> "minhash", "path" -> idx,
        "id_column" -> "doc_id", "text_column" -> "text", "shingle_size" -> 3,
        "num_hashes" -> 128, "bands" -> 32, "seed" -> 42)
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, docs.filter(F.col("doc_id") % 2 === 0),
        Cfg.of(mhCfg: _*)))
      IndexBuildOp(StageContext.one(s, docs.filter(F.col("doc_id") % 2 =!= 0),
        Cfg.of((mhCfg :+ ("mode" -> "append")): _*)))
      }
      BenchPhases.time("compact") {
      IndexCompactOp(StageContext.one(s, docs, Cfg.of("path" -> idx)))
      }
      val d1 = DedupMinHashOp(StageContext.one(s, docs, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "shingle_size" -> 3, "num_hashes" -> 128, "bands" -> 32,
        "threshold" -> 0.8, "seed" -> 42)))
      val d2 = DedupMinHashOp(StageContext.one(s, batch2, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx)))
      d1.unionByName(d2)
    },

    // ---- index.compact's generation-pointer commit (r8): build an
    // exact-key index in two halves, compact it TWICE (with an
    // index_append between, so the second generation folds appended
    // files), then probe a batch of known duplicates + novel rows.
    // Deterministic by construction: batch texts are distinct (per-text
    // MIN doc_id base) and keep=first over doc_id pins any residual tie;
    // the oracle is plain key membership against the whole corpus.
    // Hash-green means the pointer layout is probe-equivalent to the
    // classic dir under the driver's own gate, not just in ScalaTest. ----
    QueryDef("index_compact_generations",
      """WITH base AS (SELECT text, MIN(doc_id) AS src_id FROM documents
        |  WHERE doc_id < 200 GROUP BY text),
        |batch AS (
        |  SELECT src_id + 50000 AS doc_id, text FROM base
        |  UNION ALL SELECT src_id + 60000, concat('zz ', text) FROM base)
        |SELECT MIN(doc_id) AS doc_id, text FROM batch
        |WHERE text NOT IN (SELECT text FROM documents)
        |GROUP BY text""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val idx = java.nio.file.Files.createTempDirectory("graft_gen_idx").toString
      val exCfg = Seq[(String, Any)]("type" -> "exact", "path" -> idx,
        "columns" -> Seq("text"))
      IndexBuildOp(StageContext.one(s, docs.filter(F.col("doc_id") % 2 === 0),
        Cfg.of(exCfg: _*)))
      IndexBuildOp(StageContext.one(s, docs.filter(F.col("doc_id") % 2 =!= 0),
        Cfg.of((exCfg :+ ("mode" -> "append")): _*)))
      IndexCompactOp(StageContext.one(s, docs, Cfg.of("path" -> idx)))
      // grow the FIRST generation via the resolver, then fold it into a
      // second generation — appends must follow the pointer for this to
      // hash-match (keys 'qq-extra-*' never collide with batch texts)
      import s.implicits._
      DedupExactOp(StageContext.one(s,
        (0 until 5).map(i => (90000L + i, s"qq-extra-$i")).toDF("doc_id", "text"),
        Cfg.of("columns" -> Seq("text"), "index_path" -> idx,
          "index_append" -> true))).count()
      IndexCompactOp(StageContext.one(s, docs, Cfg.of("path" -> idx)))
      val base = docs.filter(F.col("doc_id") < 200)
        .groupBy("text").agg(F.min("doc_id").as("src_id"))
      val batch = base.select((F.col("src_id") + 50000).as("doc_id"), F.col("text"))
        .unionByName(base.select((F.col("src_id") + 60000).as("doc_id"),
          F.concat(F.lit("zz "), F.col("text")).as("text")))
      DedupExactOp(StageContext.one(s, batch, Cfg.of(
        "columns" -> Seq("text"), "keep" -> "first", "order_by" -> Seq("doc_id"),
        "index_path" -> idx)))
        .select("doc_id", "text")
    },

    // ---- index.stats: fragmentation report. File counts / byte sizes
    // are physical (partitioning-dependent — pinned in IndexCompactSpec),
    // but the family, the footer row count (= the whole indexed corpus)
    // and the free lease are exact → oracle those columns.
    QueryDef("index_stats",
      """SELECT 'minhash' AS index_type,
        |  CAST(count(*) AS BIGINT) AS rows,
        |  CAST(NULL AS VARCHAR) AS lease_holder
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val idx = java.nio.file.Files.createTempDirectory("graft_is_idx").toString
      val mhCfg = Seq[(String, Any)]("type" -> "minhash", "path" -> idx,
        "id_column" -> "doc_id", "text_column" -> "text", "shingle_size" -> 3,
        "num_hashes" -> 128, "bands" -> 32, "seed" -> 42)
      IndexBuildOp(StageContext.one(s, docs.filter(F.col("doc_id") % 2 === 0),
        Cfg.of(mhCfg: _*)))
      IndexBuildOp(StageContext.one(s, docs.filter(F.col("doc_id") % 2 =!= 0),
        Cfg.of((mhCfg :+ ("mode" -> "append")): _*)))
      IndexStatsOp(StageContext.one(s, docs, Cfg.of("path" -> idx)))
        .select("index_type", "rows", "lease_holder")
    },

    // ---- index.recall (r12): measured recall@k of the pruned ANN probe
    // against a one-pass exact ground truth — the maintenance verb behind
    // AnnRecallSpec's methodology (quantizer drift after appends is
    // invisible to exhaustive-parity checks). At nprobe = nlist the probe
    // IS brute force, so the summary is a CONSTANT the oracle can state:
    // recall exactly 1.0. The pruned variant depends on the engine's
    // seeded quantizer → rows-only.
    QueryDef("index_recall_exhaustive",
      """SELECT CAST(8 AS BIGINT) AS queries, CAST(10 AS BIGINT) AS k,
        |  CAST(16 AS BIGINT) AS nprobe, 1.0 AS mean_recall,
        |  1.0 AS min_recall""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_ir_idx").toString
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
        "nlist" -> 16, "seed" -> 11)))
      IndexRecallOp(StageContext.one(s, emb, Cfg.of(
        "path" -> idx, "id_column" -> "vec_id", "queries" -> 8, "k" -> 10,
        "nprobe" -> 16, "seed" -> 11)))
        .select("queries", "k", "nprobe", "mean_recall", "min_recall")
    },
    QueryDef.noOracle("index_recall_pruned") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_irp_idx").toString
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "ivfpq", "path" -> idx, "vector_column" -> "embedding",
        "nlist" -> 16, "m" -> 8, "ksub" -> 16, "seed" -> 11)))
      IndexRecallOp(StageContext.one(s, emb, Cfg.of(
        "path" -> idx, "id_column" -> "vec_id", "queries" -> 8, "k" -> 10,
        "nprobe" -> 4, "rerank" -> 4, "seed" -> 11)))
        .select("queries", "k", "nprobe", "mean_recall", "min_recall")
    },

    // ---- retrain_if (r13): the observe→act loop closed. Build the
    // quantizer on HALF the embeddings, append the other half SCALED to
    // near the origin (×0.01) — cell assignment is euclidean, so every
    // scaled row lands in the min-norm centroid's cell and skew is
    // structurally >= nlist × |B|/(|A|+|B|) ≈ 4 at ANY scale factor,
    // while COSINE geometry (what recall measures) is untouched: scaling
    // preserves angles, so the fixture stays numerically well-conditioned
    // (a translation instead would make the appended vectors near-parallel
    // and push cosine gaps below float precision — measured while
    // building this gate: probe-vs-exact arithmetic noise then defeats
    // the tie closure). retrain_if = {cell_skew_above = 2.0} trips
    // deterministically; the rebuilt quantizer's centroids differ
    // (retrained = TRUE), and an exhaustive probe of the retrained index
    // is brute force, so recall is the CONSTANT 1.0 the oracle states.
    QueryDef("index_retrain_policy",
      """SELECT TRUE AS retrained, CAST(8 AS BIGINT) AS queries,
        |  CAST(10 AS BIGINT) AS k, CAST(8 AS BIGINT) AS nprobe,
        |  1.0 AS mean_recall, 1.0 AS min_recall""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.{functions => F}
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_rt_idx").toString
      IndexBuildOp(StageContext.one(s, emb.filter(F.col("vec_id") % 2 === 0), Cfg.of(
        "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
        "nlist" -> 8, "seed" -> 11)))
      val drifted = emb.filter(F.col("vec_id") % 2 === 1)
        .withColumn("embedding",
          F.transform(F.col("embedding"), x => x * F.lit(0.01f)))
      IndexBuildOp(StageContext.one(s, drifted, Cfg.of(
        "type" -> "ivf", "path" -> idx, "mode" -> "append",
        "vector_column" -> "embedding", "nlist" -> 8, "seed" -> 11)))
      def centroids() = s.read.parquet(s"$idx/centroids")
        .orderBy("cell").collect().map(_.toString).toSeq
      val before = centroids()
      IndexCompactOp(StageContext.one(s, emb, Cfg.of(
        "path" -> idx, "retrain_if" -> Map[String, Any]("cell_skew_above" -> 2.0))))
      val retrained = centroids() != before
      IndexRecallOp(StageContext.one(s, emb, Cfg.of(
        "path" -> idx, "id_column" -> "vec_id", "queries" -> 8, "k" -> 10,
        "nprobe" -> 8, "seed" -> 11)))
        .select(F.lit(retrained).as("retrained"), F.col("queries"),
          F.col("k"), F.col("nprobe"), F.col("mean_recall"), F.col("min_recall"))
    },

    // ---- stream.ingest batch-parity: the SAME corpus/batch split as
    // dedup_minhash_incremental, but batch 2 arrives through the real
    // Structured Streaming path — file.stream (one file per micro-batch)
    // → stream.ingest foreachBatch probe + per-batch index append,
    // Trigger.AvailableNow. Copies land in micro-batch 1, reversed texts
    // in micro-batch 2; no cross-micro-batch near-pairs exist (reversal
    // destroys shingles), so stream order cannot change the survivor set
    // and the full-corpus pairwise oracle pins stream ≡ batch exactly.
    QueryDef("stream_ingest_parity",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, reverse(text) FROM documents WHERE doc_id >= 400),
        |toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM corpus),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s FROM toks),
        |dropped AS (SELECT DISTINCT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT c.doc_id, c.text FROM corpus c
        |WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val idx = java.nio.file.Files.createTempDirectory("graft_si_idx").toString
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, docs, Cfg.of(
        "type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "shingle_size" -> 3, "num_hashes" -> 128,
        "bands" -> 32, "seed" -> 42)))
      }
      // two single-file parquet drops, mtime-ordered → two micro-batches
      val streamDir = java.nio.file.Files.createTempDirectory("graft_si_in").toString
      BenchPhases.time("feed_write") {
      docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).as("doc_id"), F.col("text"))
        .coalesce(1).write.mode("append").parquet(streamDir)
      backdate(streamDir) // distinct mtimes pin micro-batch order
      docs.filter(F.col("doc_id") >= 400)
        .select((F.col("doc_id") + 20000).as("doc_id"), F.reverse(F.col("text")).as("text"))
        .coalesce(1).write.mode("append").parquet(streamDir)
      }
      val stream = graft.streaming.FileStreamSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> streamDir, "format" -> "parquet", "max_files_per_trigger" -> 1L)))
      val out = java.nio.file.Files.createTempDirectory("graft_si_out").toString + "/data"
      val siT0 = System.nanoTime()
      graft.streaming.StreamIngestSink(StageContext.one(s, stream, Cfg.of(
        "path" -> out, "index_path" -> idx, "dedup" -> "minhash",
        "trigger" -> "available_now", "id_column" -> "doc_id",
        "text_column" -> "text", "threshold" -> 0.8)))
      BenchPhases.splitStreamIngest(out, (System.nanoTime() - siT0) / 1e9)
      val d1 = DedupMinHashOp(StageContext.one(s, docs, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "shingle_size" -> 3, "num_hashes" -> 128, "bands" -> 32,
        "threshold" -> 0.8, "seed" -> 42)))
      d1.unionByName(s.read.parquet(out).select("doc_id", "text"))
    },

    // ---- stream.ingest dedup=embedding (r7): the banded-layout index is
    // what makes embeddings streamable — micro-batch 1 carries scaled
    // copies of the index (+10000, ×2 — drop THROUGH the banded probe;
    // ExactCollapse can't shortcut) plus negations of the first half
    // (+20000, cosine −1, survive and APPEND); micro-batch 2 carries
    // scaled negations of the first half (+30000, −2v — cosine 1 against
    // micro-batch 1's APPENDED survivors, so they drop ONLY if the
    // per-batch index append is visible across micro-batches) plus
    // negations of the second half (+20000, survive). Survivors = exactly
    // the +20000 negation of every original — the same full-corpus oracle
    // as dedup_embedding_incremental, now reached through a real
    // two-micro-batch Structured Streaming run.
    QueryDef("stream_ingest_embedding",
      "SELECT vec_id + 20000 AS vec_id, label FROM embeddings") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val half = emb.agg(F.expr("percentile(vec_id, 0.5)")).head().getDouble(0)
      val idx = java.nio.file.Files.createTempDirectory("graft_sie_idx").toString
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "vector_column" -> "embedding", "bands" -> 8, "band_planes" -> 12,
        "seed" -> 11, "partition_dirs" -> 4)))
      }
      def scaled(df: org.apache.spark.sql.DataFrame, offset: Int, k: Float) =
        df.select((F.col("vec_id") + offset).as("vec_id"),
          F.transform(F.col("embedding"), x => x * F.lit(k)).cast("array<float>").as("embedding"),
          F.col("label"))
      val streamDir = java.nio.file.Files.createTempDirectory("graft_sie_in").toString
      BenchPhases.time("feed_write") {
      scaled(emb, 10000, 2.0f)
        .unionByName(scaled(emb.filter(F.col("vec_id") < half), 20000, -1.0f))
        .coalesce(1).write.mode("append").parquet(streamDir)
      backdate(streamDir) // distinct mtimes pin micro-batch order
      scaled(emb.filter(F.col("vec_id") < half), 30000, -2.0f)
        .unionByName(scaled(emb.filter(F.col("vec_id") >= half), 20000, -1.0f))
        .coalesce(1).write.mode("append").parquet(streamDir)
      }
      val stream = graft.streaming.FileStreamSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> streamDir, "format" -> "parquet", "max_files_per_trigger" -> 1L)))
      val out = java.nio.file.Files.createTempDirectory("graft_sie_out").toString + "/data"
      val sieT0 = System.nanoTime()
      graft.streaming.StreamIngestSink(StageContext.one(s, stream, Cfg.of(
        "path" -> out, "index_path" -> idx, "dedup" -> "embedding",
        "trigger" -> "available_now", "id_column" -> "vec_id",
        "vector_column" -> "embedding", "threshold" -> 0.95)))
      BenchPhases.splitStreamIngest(out, (System.nanoTime() - sieT0) / 1e9)
      s.read.parquet(out).select("vec_id", "label")
    },

    // ---- sample.apply count mode (r7): EXACT-k uniform sampling. The
    // sampled set is engine-RNG-dependent, but the exactness contract is
    // not: exactly k rows, all distinct source rows (no replacement) —
    // both checkable against a constant oracle.
    QueryDef("sample_exact_count",
      "SELECT CAST(1000 AS BIGINT) AS n, CAST(1000 AS BIGINT) AS distinct_n") { (s, d) =>
      val sampled = SampleOp(StageContext.one(s, t(s, d, "orders"), Cfg.of(
        "count" -> 1000, "seed" -> 7)))
      sampled.agg(F.count(F.lit(1)).as("n"),
        F.countDistinct(F.col("o_orderkey")).as("distinct_n"))
    },

    // ---- sample.apply count ABOVE count_cutoff (r11): the same exactness
    // contract through the bit-prefix histogram descent — `count_cutoff`
    // forced below k routes this draw through the O(65536)-driver
    // threshold selection against real parquet instead of
    // TakeOrderedAndProject (the default cutoff keeps bench-scale k on
    // the TakeOrdered path, so without this gate the descent only ever
    // ran on unit frames). SamplingAggSpec pins that both paths select
    // the identical row set; PlanSpec pins this gate's plan has no
    // TakeOrderedAndProject. ----
    QueryDef("sample_exact_count_threshold",
      "SELECT CAST(1000 AS BIGINT) AS n, CAST(1000 AS BIGINT) AS distinct_n") { (s, d) =>
      val sampled = SampleOp(StageContext.one(s, t(s, d, "orders"), Cfg.of(
        "count" -> 1000, "count_cutoff" -> 100, "seed" -> 7)))
      sampled.agg(F.count(F.lit(1)).as("n"),
        F.countDistinct(F.col("o_orderkey")).as("distinct_n"))
    },

    // ---- sample.apply stratified exact-k (r8): WHICH rows survive is
    // engine-RNG, but the per-stratum quota contract is deterministic —
    // each o_orderstatus stratum yields exactly min(k, stratum size) rows
    // (named quotas for O/F, default_count for the rest) ----
    QueryDef("sample_stratified_count",
      "SELECT o_orderstatus, LEAST(COUNT(*), CASE o_orderstatus WHEN 'O' THEN 1000 " +
      "WHEN 'F' THEN 500 ELSE 100 END) AS n FROM orders GROUP BY o_orderstatus") { (s, d) =>
      val sampled = SampleOp(StageContext.one(s, t(s, d, "orders"), Cfg.of(
        "by" -> "o_orderstatus", "seed" -> 7,
        "counts" -> Map("O" -> 1000L, "F" -> 500L), "default_count" -> 100L)))
      sampled.groupBy("o_orderstatus").agg(F.count(F.lit(1)).as("n"))
    },

    // quota >= every stratum size ⇒ the stratified sampler is the
    // identity — full-table hash equality, pinning that the window
    // rank/filter machinery drops nothing it shouldn't
    QueryDef("sample_stratified_identity",
      "SELECT o_orderkey, o_orderstatus FROM orders") { (s, d) =>
      SampleOp(StageContext.one(s,
        t(s, d, "orders").select("o_orderkey", "o_orderstatus"), Cfg.of(
        "by" -> "o_orderstatus", "seed" -> 7, "default_count" -> 100000000L)))
    },

    // ---- stratified FRACTIONS (r9, expression-filter path): fraction
    // edges are exactly SQL-expressible — a named stratum at 1.0 keeps
    // every row (the [0,1) content draw is strictly below 1.0), a 0.0
    // default drops every other stratum with no driver-side stratum
    // universe — so the rewritten path gets a full hash-equality gate,
    // not just the probabilistic rows-only check ----
    QueryDef("sample_stratified_fraction_edges",
      "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'") { (s, d) =>
      SampleOp(StageContext.one(s,
        t(s, d, "orders").select("o_orderkey", "o_orderstatus"), Cfg.of(
        "by" -> "o_orderstatus", "seed" -> 7,
        "fractions" -> Map("F" -> 1.0), "default_fraction" -> 0.0)))
    },

    // ---- ingest.compact (r7): a stream.ingest-shaped output (one
    // ingest_batch partition per micro-batch, checkpoint commits
    // recorded) folds into the compacted region — reading the output
    // afterwards must return every row exactly once (the manifest swap's
    // no-duplicate/no-loss contract), which the whole-table oracle pins.
    QueryDef("ingest_compact_roundtrip",
      "SELECT doc_id, text FROM documents") { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val root = java.nio.file.Files.createTempDirectory("graft_ingc").toString
      import java.nio.file.{Files, Paths}
      Files.createDirectories(Paths.get(s"$root/_checkpoint/commits"))
      (0 until 3).foreach { i =>
        docs.filter(F.col("doc_id") % 3 === i)
          .coalesce(1).write.parquet(s"$root/ingest_batch=$i")
        Files.write(Paths.get(s"$root/_checkpoint/commits/$i"), "v1".getBytes("UTF-8"))
      }
      IngestCompactOp(StageContext.one(s, docs.limit(1), Cfg.of("path" -> root)))
      s.read.parquet(root).select("doc_id", "text")
    },

    // ---- ingest.stats: output-lifecycle health counters (filesystem
    // facts, not SQL-expressible → rows-only; exactness pinned in
    // IngestCompactSpec against known batch/commit layouts) ----
    // the constructed layout makes every structural column a CONSTANT
    // (2 committed single-file batches, no compaction, no live lease, no
    // stream metrics) — oracle-gate those; bytes/mean_file_kb are physical
    // file sizes and stay spec-pinned (IngestCompactSpec)
    QueryDef("ingest_stats",
      """SELECT CAST(2 AS BIGINT) AS batch_dirs, CAST(2 AS BIGINT) AS committed,
        |  CAST(0 AS BIGINT) AS uncommitted, CAST(0 AS BIGINT) AS compacted,
        |  CAST(2 AS BIGINT) AS files, CAST(NULL AS VARCHAR) AS lease_holder,
        |  CAST(NULL AS BIGINT) AS metric_batches""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val root = java.nio.file.Files.createTempDirectory("graft_ings").toString
      import java.nio.file.{Files, Paths}
      Files.createDirectories(Paths.get(s"$root/_checkpoint/commits"))
      (0 until 2).foreach { i =>
        docs.filter(F.col("doc_id") % 2 === i)
          .coalesce(1).write.parquet(s"$root/ingest_batch=$i")
        Files.write(Paths.get(s"$root/_checkpoint/commits/$i"), "v1".getBytes("UTF-8"))
      }
      IngestStatsOp(StageContext.one(s, docs.limit(1), Cfg.of("path" -> root)))
        .select("batch_dirs", "committed", "uncommitted", "compacted",
          "files", "lease_holder", "metric_batches")
    },

    // ---- kafka.stats: topic-log health counters + writer-lease
    // visibility. One produce into a 2-partition topic is a CONSTANT
    // shape (one segment per partition, no lease) — oracle-gate it;
    // bytes/mean_segment_kb are physical sizes, pinned in KafkaSpec.
    QueryDef("kafka_stats",
      """SELECT 'nations' AS topic, CAST(2 AS BIGINT) AS partitions,
        |  CAST(2 AS BIGINT) AS segments, CAST(NULL AS VARCHAR) AS lease_holder""".stripMargin) { (s, d) =>
      val root = java.nio.file.Files.createTempDirectory("graft_kst").toString
      val slice = t(s, d, "nation").select(
        F.col("n_name").as("k"), F.col("n_regionkey").cast("string").as("v"))
      KafkaProduceSink(StageContext.one(s, slice, Cfg.of(
        "path" -> root, "topic" -> "nations", "key_field" -> "k",
        "num_partitions" -> 2L)))
      KafkaStatsOp(StageContext(s, Seq.empty, Cfg.of("path" -> root), "kstats"))
        .select("topic", "partitions", "segments", "lease_holder")
    },

    // ---- dedup.minhash keep_by: survivor = highest-quality duplicate.
    // Copies (ids + 10000) carry the higher quality, so every dup group
    // — exact copies AND the planted near-dup pairs — must resolve to
    // the copy side. The oracle states the per-pair rule (the worse of
    // each matching pair drops; ties → the higher id drops), which is
    // exactly the pairwise ranked semantics across exact groups too.
    QueryDef("dedup_minhash_keepby",
      ("""WITH corpus AS (
        |  SELECT doc_id, text, 1.0 AS q FROM documents
        |  UNION ALL SELECT doc_id + 10000, text, 2.0 FROM documents),
        |toks AS (SELECT doc_id, q, """ + duckToks + """ AS w FROM corpus),
        |sh AS (SELECT doc_id, q, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s FROM toks),
        |pairs AS (SELECT a.doc_id AS ia, a.q AS qa, b.doc_id AS ib, b.q AS qb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |dropped AS (SELECT CASE WHEN qa > qb OR (qa = qb AND ia < ib)
        |  THEN ib ELSE ia END AS doc_id FROM pairs)
        |SELECT c.doc_id, c.text FROM corpus c
        |WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)""").stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val corpus = docs.select(F.col("doc_id"), F.col("text"), F.lit(1.0).as("q"))
        .unionByName(docs.select((F.col("doc_id") + 10000).as("doc_id"),
          F.col("text"), F.lit(2.0).as("q")))
      DedupMinHashOp(StageContext.one(s, corpus, Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "shingle_size" -> 3, "num_hashes" -> 128, "bands" -> 32,
        "threshold" -> 0.8, "seed" -> 42, "keep_by" -> "q")))
        .select("doc_id", "text")
    },

    // ---- dedup.ngram: exact char-5-gram Jaccard criterion in SQL ----
    QueryDef("dedup_ngram",
      """WITH n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS nt FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |        generate_series(1, greatest(1, length(nt) - 4)),
        |        i -> substring(nt, i, 5))) AS s FROM n),
        |dropped AS (SELECT DISTINCT b.doc_id FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT d.* FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin) { (s, d) =>
      DedupNgramOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "ngram_size" -> 5, "bands" -> 8, "rows_per_band" -> 6,
        "threshold" -> 0.8, "seed" -> 7)))
    },

    // ---- dedup.simhash: criterion (custom 64-bit sig hamming) not SQL-
    // expressible → rows-only gate; exactness covered by unit specs ----
    QueryDef.noOracle("dedup_simhash") { (s, d) =>
      DedupSimHashOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text", "max_distance" -> 3)))
    },

    // ---- dedup.embedding: corpus ∪ copies; max real cosine is 0.51 ----
    QueryDef("dedup_embedding",
      "SELECT vec_id, label FROM embeddings") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val copies = emb.withColumn("vec_id", F.col("vec_id") + 10000)
      val corpus = emb.unionByName(copies)
      DedupEmbeddingOp(StageContext.one(s, corpus, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "num_planes" -> 32, "blocks" -> 4, "seed" -> 11)))
        .select("vec_id", "label")
    },

    // ---- blocking=bands: the corpus-scale blocking (banded LSH — see
    // BENCH_NOTES r6) on the dedup_embedding corpus shape, but the
    // planted duplicates are the originals SCALED ×2: cosine is exactly 1
    // (drops under the oracle) yet the vectors are not byte-identical, so
    // ExactCollapse canNOT remove them — every copy must be recalled
    // THROUGH the banded join itself. Recall is still deterministic, not
    // probabilistic: positive scaling preserves every hyperplane sign, so
    // a copy's band signatures equal its original's in all bands. Chance
    // collisions among the real vectors (max cosine 0.51) are removed by
    // the exact-cosine verify. A broken bandSignatures (sigs that differ
    // for scaled pairs) fails this gate; the pigeonhole gate would not
    // notice.
    QueryDef("dedup_embedding_bands",
      "SELECT vec_id, label FROM embeddings") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val copies = emb.withColumn("vec_id", F.col("vec_id") + 10000)
        .withColumn("embedding", F.transform(F.col("embedding"), x => x * F.lit(2.0f)))
      val corpus = emb.unionByName(copies)
      DedupEmbeddingOp(StageContext.one(s, corpus, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "blocking" -> "bands",
        "bands" -> 16, "band_planes" -> 16, "seed" -> 11)))
        .select("vec_id", "label")
    },

    // ---- blocking=ivf (r11): SemDeDup-style cluster blocking — same
    // scaled-copy corpus as the bands gate (cosine exactly 1, never
    // collapsible as exact bytes), at the exhaustive setting nlist = 1:
    // one cell = all-pairs candidates, so the whole cluster-blocked
    // join + exact-cosine verify must reproduce the full-corpus oracle.
    // Pruned-nlist recall (same-cell-only candidates) is the documented
    // trade, spec-pinned in ClusterAssignSpec.
    // corpus bounded to vec_id < 250: nlist = 1 is deliberately ALL-pairs
    // (that's what makes it oracle-exact), so the gate's cost is
    // quadratic in its corpus — bound it the way the similar_join gates
    // are, rather than paying N² on the whole table at every sf.
    QueryDef("dedup_embedding_ivf",
      "SELECT vec_id, label FROM embeddings WHERE vec_id < 250") { (s, d) =>
      val emb = t(s, d, "embeddings").filter(F.col("vec_id") < 250)
      val copies = emb.withColumn("vec_id", F.col("vec_id") + 10000)
        .withColumn("embedding", F.transform(F.col("embedding"), x => x * F.lit(2.0f)))
      val corpus = emb.unionByName(copies)
      DedupEmbeddingOp(StageContext.one(s, corpus, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "threshold" -> 0.95, "blocking" -> "ivf", "nlist" -> 1, "seed" -> 11)))
        .select("vec_id", "label")
    },

    // ---- similarity search ----
    QueryDef("knn_bruteforce",
      """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
        |FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      KnnBruteForceOp(StageContext.one(s, t(s, d, "embeddings"), Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 10)))
    },
    // ---- knn.join: batch ANN — top-k per query ROW (not one query
    // vector). Exact brute-force semantics restated in SQL: the bounded
    // per-partition heap + final window must equal a full cross join
    // ranked per query, including rounded-cosine ties (both sides break
    // them by corpus id ascending).
    QueryDef("knn_join_bruteforce",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM q CROSS JOIN embeddings c),
        |ranked AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 7""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      KnnJoinOp(StageContext(s, Seq(
        "q" -> emb.filter(F.col("vec_id") < 5), "c" -> emb),
        Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 7)))
    },

    // ---- knn.join index_path at probe_hamming = width: every block
    // probes its ENTIRE bucket space, so the pruned batch probe provably
    // covers the whole corpus and must equal batch brute force — the SAME
    // oracle as knn_join_bruteforce (the knn_lsh_exhaustive construction,
    // batched). Pins the probe's candidate completeness: block-key
    // explode, neighborhood widening, partition join, pair dedup.
    QueryDef("knn_join_lsh_exhaustive",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM q CROSS JOIN embeddings c),
        |ranked AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 7""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_kj_idx").toString
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "lsh", "path" -> idx, "id_column" -> "vec_id",
        "vector_column" -> "embedding", "num_planes" -> 32, "blocks" -> 4,
        "seed" -> 11, "partition_dirs" -> 16)))
      KnnJoinOp(StageContext.one(s, emb.filter(F.col("vec_id") < 5), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 7,
        "index_path" -> idx, "probe_hamming" -> 8)))
    },

    // ---- knn.join against a BANDS index (r7) at probe_hamming =
    // band_planes: every band probes its entire bucket space, and since
    // the banded layout stores each row once PER BAND, one fully-probed
    // band already spans the whole corpus — the pruned probe provably
    // equals batch brute force (same oracle as knn_join_bruteforce).
    QueryDef("knn_join_bands_exhaustive",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM q CROSS JOIN embeddings c),
        |ranked AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 7""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_kjb_idx").toString
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "bands" -> 4, "band_planes" -> 8, "seed" -> 11, "partition_dirs" -> 16)))
      KnnJoinOp(StageContext.one(s, emb.filter(F.col("vec_id") < 5), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 7,
        "index_path" -> idx, "probe_hamming" -> 8)))
    },

    // ---- knn.join against an IVF index (r7) at nprobe = nlist: every
    // query probes every cell, so the centroid-pruned batch probe must
    // equal batch brute force (same oracle) — closing the batch-ANN
    // matrix hole (single-query knn.ivf had an indexed mode; the batch
    // workload, cluster assignment at scale, now has one too). The
    // nprobe < nlist default keeps its centroid-pruned partition reads
    // pinned in BandedIndexSpec.
    QueryDef("knn_join_ivf_exhaustive",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM q CROSS JOIN embeddings c),
        |ranked AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 7""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_kji_idx").toString
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
        "nlist" -> 16, "seed" -> 11)))
      KnnJoinOp(StageContext.one(s, emb.filter(F.col("vec_id") < 5), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 7,
        "index_path" -> idx, "nprobe" -> 16)))
    },

    QueryDef.noOracle("knn_ivf") { (s, d) =>
      KnnIvfOp(StageContext.one(s, t(s, d, "embeddings"), Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 10, "nlist" -> 16, "nprobe" -> 4, "seed" -> 11)))
    },
    // nprobe = nlist probes every cell → IVF must return EXACTLY the
    // brute-force answer (same oracle), upgrading the IVF code path from
    // rows-only to oracle-checked; the pruned-probe variants above stay
    // rows-only (recall depends on the engine's quantizer).
    QueryDef("knn_ivf_exhaustive",
      """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
        |FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      KnnIvfOp(StageContext.one(s, t(s, d, "embeddings"), Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 10, "nlist" -> 16, "nprobe" -> 16, "seed" -> 11)))
    },
    // ---- type=ivf mode=append (r7): the index is built over HALF the
    // corpus and the other half APPENDED against the frozen quantizer
    // (assign-to-existing-centroids — retraining would fork the cell
    // space). nprobe = nlist over the grown index must equal brute force
    // over the FULL corpus: pins that appended rows land in probe-visible
    // cells and the centroid set stayed single-generation.
    QueryDef("knn_ivf_append_exhaustive",
      """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
        |FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfap_idx").toString
      IndexBuildOp(StageContext.one(s, emb.filter(F.col("vec_id") % 2 === 0), Cfg.of(
        "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
        "nlist" -> 16, "seed" -> 11)))
      IndexBuildOp(StageContext.one(s, emb.filter(F.col("vec_id") % 2 =!= 0), Cfg.of(
        "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
        "mode" -> "append")))
      KnnIvfOp(StageContext.one(s, emb, Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 10, "nprobe" -> 16, "index_path" -> idx)))
    },

    // batch ANN against an ivfpq index: every cell probed + covering
    // rerank (rerank·k ≥ corpus) → the encode→ADC-candidates→exact-rerank
    // batch pipeline must equal batch brute force (same oracle as the ivf
    // batch gate) — closes the knn.join index-mode matrix (pigeonhole /
    // bands / ivf / ivfpq).
    QueryDef("knn_join_ivfpq_exhaustive",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM q CROSS JOIN embeddings c),
        |ranked AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 7""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_kjpq_idx").toString
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "ivfpq", "path" -> idx, "vector_column" -> "embedding",
        "nlist" -> 16, "m" -> 8, "ksub" -> 16, "seed" -> 11)))
      KnnJoinOp(StageContext.one(s, emb.filter(F.col("vec_id") < 5), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding", "k" -> 7,
        "index_path" -> idx, "nprobe" -> 16, "rerank" -> 300)))
    },

    // ---- type=ivfpq (r11): product-quantized IVF — the corpus stores
    // m-byte PQ codes next to the raw vectors (columnar, so the ADC scan
    // reads codes only: the 4·dim/m I/O win at 100 TB); the probe scores
    // by asymmetric distance then reranks candidates exactly. nprobe =
    // nlist + a covering rerank (rerank·k ≥ corpus) re-scores everything
    // exactly, so the whole encode→ADC→rerank pipeline must reproduce
    // brute force bit-for-bit against the same DuckDB oracle.
    QueryDef("knn_ivfpq_exhaustive",
      """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
        |FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_pqex_idx").toString
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "ivfpq", "path" -> idx, "vector_column" -> "embedding",
        "nlist" -> 16, "m" -> 8, "ksub" -> 16, "seed" -> 11)))
      KnnIvfOp(StageContext.one(s, emb, Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 10, "nprobe" -> 16, "rerank" -> 1000, "index_path" -> idx)))
    },
    // cluster.assign → corpus-composition report (the curation loop:
    // tag every row with its nearest index centroid, then group). The
    // clusters come from the engine's seeded quantizer → rows-only; the
    // tag ≡ stored-cell parity property is pinned in ClusterAssignSpec.
    QueryDef.noOracle("cluster_assign_report") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_ca_idx").toString
      IndexBuildOp(StageContext.one(s, emb, Cfg.of(
        "type" -> "ivf", "path" -> idx, "vector_column" -> "embedding",
        "nlist" -> 16, "seed" -> 11)))
      ClusterAssignOp(StageContext.one(s, emb, Cfg.of("index_path" -> idx)))
        .groupBy("cluster").agg(F.count(F.lit(1)).as("n"))
        .orderBy("cluster")
    },

    // realistic PQ probe (pruned cells, bounded rerank): recall depends on
    // the engine's codebooks → rows-only, like the other pruned ANN gates.
    // The index is built once per sf dir and reused, so Bench's second rep
    // measures the pure narrow-scan ADC probe.
    QueryDef.noOracle("knn_ivfpq") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val idx = "/tmp/graft_ivfpq_u1_" + d.replaceAll("[^A-Za-z0-9]", "_") // _u1: uniform-draw quantizer generation
      val marker = new java.io.File(s"$idx/pq/_SUCCESS")
      val fixture = new java.io.File(s"$d/embeddings.parquet")
      if (!marker.exists() || marker.lastModified() < fixture.lastModified())
        IndexBuildOp(StageContext.one(s, emb, Cfg.of(
          "type" -> "ivfpq", "path" -> idx, "vector_column" -> "embedding",
          "nlist" -> 16, "m" -> 8, "ksub" -> 16, "seed" -> 11)))
      KnnIvfOp(StageContext.one(s, emb, Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 10, "nprobe" -> 4, "rerank" -> 4, "index_path" -> idx)))
    },

    // multi-probe LSH at probe_hamming = width: every block probes its
    // ENTIRE bucket space, so the index probe provably covers the whole
    // corpus and must return EXACTLY the brute-force answer (same oracle)
    // — upgrades the lsh probe path from rows-only to oracle-checked and
    // pins the candidate-completeness of the (block, pbucket, bucket)
    // predicate; the pruned default stays rows-only (recall depends on
    // the engine's hyperplanes).
    QueryDef("knn_lsh_exhaustive",
      """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
        |FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val idx = java.nio.file.Files.createTempDirectory("graft_lshex_idx").toString
      IndexBuildOp(StageContext.one(s, t(s, d, "embeddings"), Cfg.of(
        "type" -> "lsh", "path" -> idx, "vector_column" -> "embedding",
        "num_planes" -> 32, "blocks" -> 4, "seed" -> 11, "partition_dirs" -> 16)))
      KnnLshOp(StageContext.one(s, t(s, d, "embeddings"), Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 10, "index_path" -> idx, "probe_hamming" -> 8)))
    },

    // prebuilt-index probe (the 100 TB path): the index is built ONCE per
    // sf dir (first invocation) into /tmp and reused — in Bench's min-of-2
    // the second rep therefore measures the pure partition-pruned probe.
    QueryDef.noOracle("knn_ivf_indexed") { (s, d) =>
      val idx = "/tmp/graft_ivf_u1_" + d.replaceAll("[^A-Za-z0-9]", "_") // _u1: uniform-draw quantizer generation
      // rebuild when missing OR older than the fixture — a regenerated
      // embeddings table must never be probed through a stale index
      val marker = new java.io.File(s"$idx/centroids/_SUCCESS")
      val fixture = new java.io.File(s"$d/embeddings.parquet")
      if (!marker.exists() || marker.lastModified() < fixture.lastModified())
        IndexBuildOp(StageContext.one(s, t(s, d, "embeddings"), Cfg.of(
          "path" -> idx, "vector_column" -> "embedding", "nlist" -> 16, "seed" -> 11)))
      KnnIvfOp(StageContext.one(s, t(s, d, "embeddings"), Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 10, "nprobe" -> 4, "index_path" -> idx)))
    },
    QueryDef.noOracle("knn_lsh") { (s, d) =>
      KnnLshOp(StageContext.one(s, t(s, d, "embeddings"), Cfg.of(
        "query_id" -> 0, "id_column" -> "vec_id", "vector_column" -> "embedding",
        "k" -> 10, "num_planes" -> 16, "blocks" -> 4, "seed" -> 11)))
    },

    // ---- text analysis ----
    QueryDef("text_stats",
      ("""SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  CAST(len(""" + duckToks + """) AS BIGINT) AS n_words,
        |  round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(""" + duckToks + """), 6) AS avg_word_len,
        |  round(coalesce(CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / length(text), 0.0), 6) AS punct_ratio,
        |  round(coalesce(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text), 0.0), 6) AS digit_ratio
        |FROM documents""").stripMargin) { (s, d) =>
      TextStatsOp(StageContext.one(s, t(s, d, "documents"), Cfg.of("column" -> "text")))
        .select("doc_id", "n_chars_calc", "n_words", "avg_word_len", "punct_ratio", "digit_ratio")
    },

    QueryDef("text_tokens",
      """SELECT doc_id,
        |  CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens
        |FROM documents""".stripMargin) { (s, d) =>
      TokenCountOp(StageContext.one(s, t(s, d, "documents"), Cfg.of("column" -> "text")))
        .select("doc_id", "ws_tokens", "bpeish_tokens")
    },

    QueryDef("text_langid",
      s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
         |s AS (SELECT doc_id, $duckLangScores FROM t)
         |SELECT doc_id, $duckLangCase AS lang_pred FROM s""".stripMargin) { (s, d) =>
      LangIdOp(StageContext.one(s, t(s, d, "documents"), Cfg.of("column" -> "text")))
        .select("doc_id", "lang_pred")
    },

    QueryDef("text_quality",
      ("""WITH t AS (SELECT doc_id, text, """ + duckToks + """ AS w FROM documents),
        |s AS (SELECT doc_id, text, CAST(len(w) AS DOUBLE) AS nw,
        |  coalesce(CAST(len(list_filter(w, x -> list_contains(""" +
          TextFns.stopwordMap("en").map(w => s"'$w'").mkString("[", ", ", "]") + """, x))) AS DOUBLE) / len(w), 0.0) AS swr
        |  FROM t)
        |SELECT doc_id, round(swr, 6) AS stopword_ratio,
        |  round(least(nw / 50.0, 1.0) * 0.3
        |    + greatest(0.0, 1.0 - coalesce(CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / length(text), 0.0) * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - coalesce(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text), 0.0) * 4.0) * 0.25
        |    + least(swr * 3.0, 1.0) * 0.2, 6) AS quality
        |FROM s""").stripMargin) { (s, d) =>
      QualityScoreOp(StageContext.one(s, t(s, d, "documents"), Cfg.of("column" -> "text")))
        .select("doc_id", "stopword_ratio", "quality")
    },

    // xxhash64 has no DuckDB equivalent → rows-only; determinism unit-tested.
    // The sketch array is collapsed to one BIGINT signature: the driver's
    // rows-only checker still sorts every output column with pandas, which
    // cannot sort ndarray cells (round-1 gate crash) — scalar columns only.
    QueryDef.noOracle("text_fingerprint") { (s, d) =>
      FingerprintOp(StageContext.one(s, t(s, d, "documents"), Cfg.of("column" -> "text")))
        .select(F.col("doc_id"), F.col("fingerprint"),
          F.xxhash64(F.to_json(F.col("min_shingles"))).alias("min_shingles_sig"))
    },

    // ---- multimodal plumbing (text bytes as stand-in blobs) ----
    QueryDef("binary_meta",
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS blob_size,
        |  'unknown' AS blob_type FROM documents""".stripMargin) { (s, d) =>
      val blobs = t(s, d, "documents").withColumn("blob", F.col("text").cast("binary"))
      graft.multimodal.BinaryMetaOp(StageContext.one(s, blobs, Cfg.of("column" -> "blob")))
        .select("doc_id", "blob_size", "blob_type")
    },
    QueryDef("media_features",
      "SELECT doc_id, 64 AS feat_dim FROM documents") { (s, d) =>
      val blobs = t(s, d, "documents").withColumn("blob", F.col("text").cast("binary"))
      graft.multimodal.FeatureExtractOp(StageContext.one(s, blobs, Cfg.of(
        "column" -> "blob", "feature_dim" -> 64)))
        .select(F.col("doc_id"), F.size(F.col("features")).cast("int").alias("feat_dim"))
    },

    // REAL image decode end-to-end: synthesize a PNG per row whose width
    // is a function of doc_id, decode it with image.decode (javax.imageio),
    // and let the oracle state the expected dimensions arithmetically.
    QueryDef("image_decode",
      """SELECT doc_id,
        |  CAST(doc_id % 16 + 1 AS INTEGER) AS img_width,
        |  CAST(7 AS INTEGER) AS img_height,
        |  CAST(3 AS INTEGER) AS img_channels
        |FROM documents""".stripMargin) { (s, d) =>
      val mkPng = F.udf { id: Long =>
        val w = (id % 16 + 1).toInt
        val img = new java.awt.image.BufferedImage(w, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var x = 0
        while (x < w) { var y = 0; while (y < 7) { img.setRGB(x, y, (id * 2654435761L).toInt + x * 256 + y); y += 1 }; x += 1 }
        graft.multimodal.MediaCodec.pngBytes(img)
      }
      val blobs = t(s, d, "documents").select(F.col("doc_id"),
        mkPng(F.col("doc_id").cast("long")).alias("blob"))
      graft.multimodal.ImageDecodeOp(StageContext.one(s, blobs, Cfg.of("column" -> "blob")))
        .select("doc_id", "img_width", "img_height", "img_channels")
    },

    // REAL WAV decode end-to-end: synthesize 16-bit PCM per row with a
    // doc_id-dependent frame count; the oracle computes duration directly.
    QueryDef("audio_decode",
      """SELECT doc_id,
        |  CAST(8000 AS DOUBLE) AS sample_rate,
        |  CAST((doc_id % 5 + 1) * 800 AS BIGINT) AS n_frames,
        |  round((doc_id % 5 + 1) * 800 / 8000.0, 6) AS duration_s
        |FROM documents""".stripMargin) { (s, d) =>
      val mkWav = F.udf { id: Long =>
        val frames = ((id % 5 + 1) * 800).toInt
        val data = new Array[Byte](frames * 2)
        var i = 0
        while (i < frames) {
          val v = (math.sin(2 * math.Pi * 220.0 * i / 8000.0) * 12000).toInt.toShort
          data(i * 2) = (v & 0xff).toByte; data(i * 2 + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val in = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(in, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val blobs = t(s, d, "documents").select(F.col("doc_id"),
        mkWav(F.col("doc_id").cast("long")).alias("blob"))
      graft.multimodal.AudioDecodeOp(StageContext.one(s, blobs, Cfg.of("column" -> "blob")))
        .select(F.col("doc_id"), F.col("sample_rate"), F.col("n_frames"),
          F.round(F.col("duration_s"), 6).alias("duration_s"))
    },

    // ---- event-time windows (ts never exposed raw: ns vs us) ----
    QueryDef("window_time_1h",
      """SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_events,
        |  round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      val win = TimeWindowOp(StageContext.one(s, t(s, d, "events"), Cfg.of(
        "ts_column" -> "ts", "size" -> "1 hour")))
      win.groupBy("window").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), F.col("n_events"), F.col("sum_value"))
    },

    QueryDef("window_session_10m",
      """WITH s AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |t AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
        |  count(*) AS n_events
        |FROM t GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      val sess = SessionWindowOp(StageContext.one(s, t(s, d, "events"), Cfg.of(
        "ts_column" -> "ts", "gap" -> "10 minutes", "group_by" -> Seq("user_id"),
        "aggregations" -> Seq(Map("column" -> "event_id", "operation" -> "count", "output_column" -> "n_events")))))
      sess.select(F.col("user_id"),
        F.floor(F.col("session.start").cast("double")).cast("long").alias("session_start_s"),
        F.col("n_events"))
    },

    // aggregate.stateful executes the same mapGroupsWithState fold on a
    // batch frame, so the running-total semantics get a plain GROUP BY
    // oracle (streaming behavior covered in StatefulSpec).
    QueryDef("stateful_sum_batch",
      """SELECT CAST(o_custkey AS VARCHAR) AS o_custkey,
        |  round(sum(o_totalprice), 2) AS total_spend
        |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
      val agg = graft.streaming.StatefulAggOp(StageContext.one(s, t(s, d, "orders"), Cfg.of(
        "key_column" -> "o_custkey", "value_column" -> "o_totalprice",
        "operation" -> "sum", "output_column" -> "total_spend")))
      agg.select(F.col("o_custkey"), F.round(F.col("total_spend"), 2).alias("total_spend"))
    },

    // ---- sketch / distinct aggregates ----
    QueryDef("groupby_count_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      GroupByOp(StageContext.one(s, t(s, d, "lineitem"), Cfg.of(
        "by" -> "l_returnflag",
        "aggregations" -> Seq(
          Map("column" -> "l_partkey", "operation" -> "count_distinct", "output_column" -> "n_parts"),
          Map("column" -> "l_suppkey", "operation" -> "count_distinct", "output_column" -> "n_supps")))))
    },
    // approx_count_distinct is an HLL sketch — engine-specific estimates
    // can't hash-match an oracle; accuracy asserted in SamplingAggSpec
    QueryDef.noOracle("approx_distinct_parts") { (s, d) =>
      GroupByOp(StageContext.one(s, t(s, d, "lineitem"), Cfg.of(
        "by" -> "l_returnflag",
        "aggregations" -> Seq(Map("column" -> "l_partkey",
          "operation" -> "approx_count_distinct", "output_column" -> "n_parts_approx")))))
    },

    // ---- sampling / deterministic split (RNG/hash differ per engine →
    // rows-only gates; invariants asserted in SamplingAggSpec) ----
    QueryDef.noOracle("sample_bernoulli") { (s, d) =>
      SampleOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "fraction" -> 0.2, "seed" -> 7)))
    },
    QueryDef.noOracle("split_train") { (s, d) =>
      SplitOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "columns" -> Seq("doc_id"), "percent" -> 80, "partition" -> "train")))
    },

    // ---- mongodb.normalize: extended JSON → scalars. The fixture is
    // constructed identically in both engines from o_orderkey; the oracle
    // states the NORMALIZED string directly (Jackson compact serialization
    // preserves field order, so the byte-level output is deterministic).
    // Covers: $oid, $numberLong, $numberInt, $numberDouble, $date in both
    // {"$numberLong"} and RFC-3339 string form, nested arrays.
    QueryDef("mongo_normalize",
      """SELECT o_orderkey,
        |  '{"_id":"aabbccddeeff001122334455","k":' || o_orderkey ||
        |  ',"pri":7,"score":2.5,"created":' || (o_orderkey * 1000) ||
        |  ',"iso_d":803392245500,"tag":[1,"x"]}' AS norm
        |FROM orders""".stripMargin) { (s, d) =>
      val ext = t(s, d, "orders").select(F.col("o_orderkey"),
        F.concat(
          F.lit("""{"_id": {"$oid": "aabbccddeeff001122334455"}, "k": {"$numberLong": """"),
          F.col("o_orderkey").cast("string"),
          F.lit(""""}, "pri": {"$numberInt": "7"}, "score": {"$numberDouble": "2.5"}, "created": {"$date": {"$numberLong": """"),
          (F.col("o_orderkey") * 1000).cast("string"),
          F.lit(""""}}, "iso_d": {"$date": "1995-06-17T12:30:45.500Z"}, "tag": [{"$numberInt": "1"}, "x"]}""")
        ).alias("ext"))
      MongoNormalizeOp(StageContext.one(s, ext, Cfg.of(
        "column" -> "ext", "output_column" -> "norm")))
        .select("o_orderkey", "norm")
    },

    // ---- excel round-trip: write a deterministic orders slice to .xlsx,
    // read it back, compare against the direct relational answer. A full
    // oracle gate because the round-trip must be the identity: strings,
    // longs and doubles all survive (Double.toString round-trips exactly).
    QueryDef("excel_roundtrip",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey < 2000""".stripMargin) { (s, d) =>
      val slice = t(s, d, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val path = java.nio.file.Files.createTempDirectory("graft_xlsx").toString + "/orders.xlsx"
      ExcelWriteSink(StageContext.one(s, slice, Cfg.of("path" -> path)))
      ExcelReadSource(StageContext(s, Seq.empty, Cfg.of("path" -> path)))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    },

    // ---- csv / jsonl round-trips: write a deterministic orders slice
    // through the reference's own file formats and read it back — upgrades
    // csv.read/csv.write/json.read/json.write from specs-only to
    // oracle-gated (identity round-trip, declared schema on the csv read
    // so types survive; jsonl preserves types natively).
    QueryDef("csv_roundtrip",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey < 2000""".stripMargin) { (s, d) =>
      val slice = t(s, d, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val path = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/orders_csv"
      graft.sinks.CsvSink(StageContext.one(s, slice, Cfg.of("path" -> path)))
      graft.sources.CsvSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> path,
        "schema" -> "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    },
    QueryDef("json_roundtrip",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey < 2000""".stripMargin) { (s, d) =>
      val slice = t(s, d, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val path = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/orders_jsonl"
      graft.sinks.JsonSink(StageContext.one(s, slice, Cfg.of(
        "path" -> path, "format" -> "jsonl")))
      graft.sources.JsonSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> path, "format" -> "jsonl")))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    },

    // ---- pack.sequences chunk mode: GPT-style concat-and-cut packing.
    // The global token offset is a pure window cumsum, so DuckDB states
    // the whole semantic; the Spark side computes it with the distributed
    // TwoPass prefix (no single-partition exchange).
    QueryDef("pack_chunk",
      """WITH tk AS (SELECT doc_id,
        |  CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM tk)
        |SELECT doc_id, n_tokens, tok_start,
        |  CAST(tok_start + n_tokens AS BIGINT) AS tok_end,
        |  CAST(tok_start // 512 AS BIGINT) AS seq_first,
        |  CAST(greatest(tok_start, tok_start + n_tokens - 1) // 512 AS BIGINT) AS seq_last
        |FROM cum""".stripMargin) { (s, d) =>
      PackOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "max_tokens" -> 512, "order_by" -> Seq("doc_id"),
        "text_column" -> "text", "tokenizer" -> "whitespace")))
        .select("doc_id", "n_tokens", "tok_start", "tok_end", "seq_first", "seq_last")
    },

    // ---- shards.write (r11): token-budget training-shard export. The
    // sharding rule (doc → shard of its global token START offset) is one
    // window cumsum, so the MANIFEST the op returns — one (shard, n_docs,
    // n_tokens) row per shard — restates exactly in SQL; the file layout
    // itself (one file per shard dir, roundtrip of the rows) is
    // ShardsWriteSpec's half. ~34 shards at sf0.1 / 8k-token budget.
    QueryDef("shards_write",
      """WITH tk AS (SELECT doc_id,
        |  CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n
        |  FROM documents),
        |cum AS (SELECT doc_id, n,
        |  CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM tk)
        |SELECT CAST(tok_start // 8000 AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM cum GROUP BY 1""".stripMargin) { (s, d) =>
      val out = java.nio.file.Files.createTempDirectory("graft_shards").toString + "/export"
      ShardWriteOp(StageContext.one(s, t(s, d, "documents").select("doc_id", "text"),
        Cfg.of("path" -> out, "order_by" -> Seq("doc_id"),
          "shard_tokens" -> 8000, "tokenizer" -> "whitespace")))
        .select("shard", "n_docs", "n_tokens")
    },

    // ---- shards.write by=rows: rank-based sharding, same manifest
    // contract — floor(rank / shard_rows) in SQL.
    QueryDef("shards_write_rows",
      """WITH r AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY doc_id) - 1 AS rk FROM documents)
        |SELECT CAST(rk // 150 AS BIGINT) AS shard, count(*) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_tokens
        |FROM r GROUP BY 1""".stripMargin) { (s, d) =>
      val out = java.nio.file.Files.createTempDirectory("graft_shardr").toString + "/export"
      ShardWriteOp(StageContext.one(s, t(s, d, "documents").select("doc_id"),
        Cfg.of("path" -> out, "by" -> "rows", "order_by" -> Seq("doc_id"),
          "shard_rows" -> 150, "format" -> "jsonl")))
        .select("shard", "n_docs", "n_tokens")
    },

    // ---- join.similar anti mode: decontamination against a synthetic
    // "benchmark" (every 10th document). The oracle computes the exact
    // cross-pair Jaccard criterion in SQL — a training doc survives iff no
    // benchmark doc (other than itself) reaches the threshold. Same planted
    // near-dup corpus as the dedup gates, so recall is deterministic.
    QueryDef("similar_join_anti",
      """WITH toks AS (SELECT doc_id, """ + duckToks + """ AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s FROM toks),
        |bench AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
        |hit AS (SELECT DISTINCT a.doc_id FROM sh a JOIN bench b ON a.doc_id <> b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT d.doc_id, d.text FROM documents d
        |WHERE d.doc_id % 10 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val train = docs.filter(F.col("doc_id") % 10 =!= 0)
      val bench = docs.filter(F.col("doc_id") % 10 === 0)
      SimilarJoinOp(StageContext(s, Seq("l" -> train, "r" -> bench), Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "shingle_size" -> 3, "num_hashes" -> 128, "bands" -> 32,
        "threshold" -> 0.8, "mode" -> "anti")))
        .select("doc_id", "text")
    },

    // ---- join.similar index_path (r7): the same decontamination, but the
    // benchmark side is a PREBUILT index.build type=minhash corpus — the
    // "match new rows against everything already ingested" probe. Same
    // oracle as similar_join_anti: probing the persisted signatures must
    // equal the two-input join exactly.
    QueryDef("similar_join_index_anti",
      """WITH toks AS (SELECT doc_id, """ + duckToks + """ AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s FROM toks),
        |bench AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
        |hit AS (SELECT DISTINCT a.doc_id FROM sh a JOIN bench b ON a.doc_id <> b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT d.doc_id, d.text FROM documents d
        |WHERE d.doc_id % 10 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val idx = java.nio.file.Files.createTempDirectory("graft_sji_idx").toString
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, docs.filter(F.col("doc_id") % 10 === 0), Cfg.of(
        "type" -> "minhash", "path" -> idx, "id_column" -> "doc_id",
        "text_column" -> "text", "shingle_size" -> 3, "num_hashes" -> 128,
        "bands" -> 32, "seed" -> 42)))
      }
      SimilarJoinOp(StageContext.one(s, docs.filter(F.col("doc_id") % 10 =!= 0), Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "threshold" -> 0.8, "index_path" -> idx, "mode" -> "anti")))
        .select("doc_id", "text")
    },

    // ---- html.strip: the documents are plain text, so the query wraps
    // each in a deterministic HTML shell (tags, a script block, entities)
    // and both engines run the identical strip chain.
    QueryDef("html_strip", {
      val chained = (HtmlStripOp.stripChain ++ HtmlStripOp.entityChain)
        .foldLeft("""('<html><!-- c --><body class="m">' ||
          |'<script type="text/js">var x = 1 < 2;</script>' ||
          |'<p>' || text || '</p>&amp; &lt;tail&gt;&nbsp;end</body></html>')""".stripMargin) {
          case (acc, (p, r)) =>
            s"regexp_replace($acc, '${p.replace("'", "''")}', '${r.replace("'", "''")}', 'g')"
        }
      s"SELECT doc_id, trim(regexp_replace($chained, '\\s+', ' ', 'g')) AS clean FROM documents"
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val htmled = docs.withColumn("html",
        F.concat(F.lit("""<html><!-- c --><body class="m"><script type="text/js">var x = 1 < 2;</script><p>"""),
          F.col("text"), F.lit("""</p>&amp; &lt;tail&gt;&nbsp;end</body></html>""")))
      HtmlStripOp(StageContext.one(s, htmled, Cfg.of(
        "column" -> "html", "output_column" -> "clean")))
        .select("doc_id", "clean")
    },

    // ---- text.redact: PII masking. The documents corpus has no PII, so
    // the query plants deterministic emails/IPs/SSNs derived from doc_id
    // and both engines chain the IDENTICAL patterns (the operator's
    // pattern table is restricted to the java.util.regex ∩ RE2 dialect
    // precisely so this oracle can exist).
    QueryDef("text_redact", {
      val steps = Seq("email", "ssn", "ip").map { t =>
        TextCleaning.piiPatterns.find(_._1 == t).get
      }
      val inner = "text || ' reach user' || doc_id || '@example.com or 10.0.' || " +
        "(doc_id % 256) || '.7 ssn 123-45-' || (1000 + doc_id % 9000)"
      val chained = steps.foldLeft(s"($inner)") { case (acc, (_, pat, tok)) =>
        s"regexp_replace($acc, '$pat', '$tok', 'g')"
      }
      s"SELECT doc_id, $chained AS red FROM documents"
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val planted = docs.withColumn("pii_text",
        F.concat(F.col("text"), F.lit(" reach user"), F.col("doc_id"),
          F.lit("@example.com or 10.0."), F.col("doc_id") % 256,
          F.lit(".7 ssn 123-45-"), F.col("doc_id") % 9000 + 1000))
      RedactOp(StageContext.one(s, planted, Cfg.of(
        "column" -> "pii_text", "output_column" -> "red",
        "types" -> Seq("email", "ssn", "ip"))))
        .select("doc_id", "red")
    },

    // ---- dedup.lines: cross-document boilerplate-line removal. The
    // fixture plants a 3-line structure per doc: a header shared by ~1/3
    // of the corpus, the doc's own text, and a footer shared by ALL docs.
    // min_docs=2 removes header+footer everywhere and also the text line
    // of exact-duplicate doc groups (24 of 500 docs share text) — the
    // oracle states the same frequency rule over the exploded lines.
    QueryDef("dedup_lines",
      """WITH planted AS (
        |  SELECT doc_id, 'HEADER-' || CAST(doc_id % 3 AS VARCHAR) AS l1,
        |         text AS l2, 'FOOTER' AS l3
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, l1 AS line FROM planted
        |  UNION ALL SELECT doc_id, l2 FROM planted
        |  UNION ALL SELECT doc_id, l3 FROM planted),
        |freq AS (SELECT line FROM ex GROUP BY line HAVING count(DISTINCT doc_id) >= 2)
        |SELECT p.doc_id, concat_ws(chr(10),
        |  CASE WHEN f1.line IS NULL THEN p.l1 END,
        |  CASE WHEN f2.line IS NULL THEN p.l2 END,
        |  CASE WHEN f3.line IS NULL THEN p.l3 END) AS clean
        |FROM planted p
        |LEFT JOIN freq f1 ON f1.line = p.l1
        |LEFT JOIN freq f2 ON f2.line = p.l2
        |LEFT JOIN freq f3 ON f3.line = p.l3""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val planted = docs.withColumn("multi",
        F.concat(F.lit("HEADER-"), (F.col("doc_id") % 3).cast("string"),
          F.lit("\n"), F.col("text"), F.lit("\nFOOTER")))
      DedupLinesOp(StageContext.one(s, planted, Cfg.of(
        "column" -> "multi", "output_column" -> "clean",
        "id_column" -> "doc_id", "min_docs" -> 2)))
        .select("doc_id", "clean")
    },

    // ---- quality.score: both engines derive the SAME deterministic model
    // (top-20 corpus terms by frequency, weight = (len-4)*0.1, intercept
    // -0.2) and the oracle restates the exact scoring rule — per-doc
    // 1e-6-quantized integer dot product (order-independent) → sigmoid.
    QueryDef("quality_score",
      """WITH occ AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> len(x) > 0)) AS term FROM documents),
        |terms AS (SELECT term, count(*) AS n FROM occ GROUP BY 1
        |          ORDER BY n DESC, term LIMIT 20),
        |model AS (SELECT term, (length(term) - 4) * 0.1 AS weight FROM terms
        |          UNION ALL SELECT '__intercept__', -0.2),
        |occ2 AS (SELECT doc_id, term FROM occ
        |         UNION ALL SELECT doc_id, '__intercept__' FROM documents),
        |z AS (SELECT o.doc_id,
        |        sum(coalesce(CAST(round(m.weight * 1e6) AS BIGINT), 0)) AS zq
        |      FROM occ2 o LEFT JOIN model m ON m.term = o.term GROUP BY 1)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-(zq / 1000000.0))), 6) AS quality_score
        |FROM z""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val terms = docs.select(F.explode(F.filter(
          F.split(F.trim(F.col("text")), "\\s+"), w => F.length(w) > 0)).as("term"))
        .groupBy("term").agg(F.count(F.lit(1)).as("n"))
        .orderBy(F.col("n").desc, F.col("term")).limit(20)
        .select(F.col("term"), ((F.length(F.col("term")) - 4) * 0.1).as("weight"))
      val model = terms.unionByName(
        s.sql("SELECT '__intercept__' AS term, -0.2 AS weight"))
      QualityClassifierScoreOp(StageContext(s, Seq("docs" -> docs, "model" -> model),
        Cfg.of())).select("doc_id", "quality_score")
    },

    // ---- quality.train: the optimizer's weights are not SQL-expressible
    // (iterative LBFGS) — rows-only here; QualityClassifierSpec pins
    // separation, weight signs, and exact scoring semantics instead.
    QueryDef.noOracle("quality_train") { (s, d) =>
      // sources are src0..src19: call the low half the reference corpus
      val docs = t(s, d, "documents")
        .withColumn("label",
          (F.expr("CAST(substring(source, 4) AS INT)") < 10).cast("int"))
      QualityClassifierTrainOp(StageContext.one(s, docs, Cfg.of(
        "label_column" -> "label", "vocab_size" -> 500, "max_iter" -> 20)))
    },

    // ---- dedup.substrings (Lee et al. ExactSubstr): the oracle restates
    // the whole rule in SQL — every 10-token window keyed by its NUL-joined
    // content, duplicated groups keep min (doc, start), non-canonical marks
    // merge per doc via gaps-and-islands (fixed window width → island
    // coverage = max(s)+n-min(s)). Spark groups by a 64-bit FNV of the
    // window; the oracle groups by content itself, so a hash collision
    // would fail the gate (none at this scale).
    QueryDef("substring_dedup_annotate",
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |wins AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS s, array_to_string(list_slice(t, i, i + 9), chr(0)) AS key
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 9)) AS i)),
        |marked AS MATERIALIZED (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY key ORDER BY doc_id, s) AS rn,
        |    count(*) OVER (PARTITION BY key) AS cnt
        |  FROM wins),
        |marks AS MATERIALIZED (SELECT doc_id, s FROM marked WHERE cnt > 1 AND rn > 1),
        |isl AS (SELECT doc_id, s,
        |  CASE WHEN s >= coalesce(max(s + 10) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ni
        |  FROM marks),
        |isl2 AS (SELECT doc_id, s, sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS island FROM isl),
        |cov AS (SELECT doc_id, sum(mx) AS covered FROM (
        |  SELECT doc_id, island, max(s) + 10 - min(s) AS mx FROM isl2 GROUP BY 1, 2) GROUP BY 1),
        |nd AS (SELECT doc_id, count(*) AS n_dup FROM marks GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(nd.n_dup, 0) AS n_dup_spans,
        |  round(coalesce(CAST(cov.covered AS DOUBLE) / nullif(len(tk.t), 0), 0.0), 6) AS dup_token_frac
        |FROM documents d
        |LEFT JOIN toks tk ON tk.doc_id = d.doc_id
        |LEFT JOIN nd ON nd.doc_id = d.doc_id
        |LEFT JOIN cov ON cov.doc_id = d.doc_id""".stripMargin) { (s, d) =>
      SubstringDedupOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "min_tokens" -> 10, "mode" -> "annotate")))
        .select("doc_id", "n_dup_spans", "dup_token_frac")
    },

    // ---- dedup.substrings remove mode: tokens not covered by any mark
    // rebuild with single-space joins (only marked docs are rewritten —
    // unmarked docs pass through byte-identical, whitespace and all).
    QueryDef("substring_dedup_remove",
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |wins AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS s, array_to_string(list_slice(t, i, i + 9), chr(0)) AS key
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 9)) AS i)),
        |marked AS MATERIALIZED (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY key ORDER BY doc_id, s) AS rn,
        |    count(*) OVER (PARTITION BY key) AS cnt
        |  FROM wins),
        |marks AS MATERIALIZED (SELECT doc_id, s FROM marked WHERE cnt > 1 AND rn > 1),
        |pos AS (SELECT tk.doc_id, i - 1 AS p, t[i] AS tok
        |        FROM toks tk, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
        |kept AS (SELECT doc_id, p, tok FROM pos
        |  WHERE NOT EXISTS (SELECT 1 FROM marks m
        |    WHERE m.doc_id = pos.doc_id AND pos.p >= m.s AND pos.p < m.s + 10)),
        |rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id IN (SELECT doc_id FROM marks)
        |       THEN coalesce(r.text, '') ELSE d.text END AS text
        |FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id""".stripMargin) { (s, d) =>
      SubstringDedupOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "min_tokens" -> 10)))
        .select("doc_id", "text")
    },

    // ---- shuffle.apply is a pure deterministic permutation — content is
    // identity (the checker sorts rows), determinism is spec-pinned
    QueryDef("shuffle_docs",
      "SELECT doc_id, source, n_chars FROM documents") { (s, d) =>
      ShuffleOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "seed" -> 7, "columns" -> Seq("doc_id"))))
        .select("doc_id", "source", "n_chars")
    },

    // ---- filter.lines: C4 line rules. Plant 4 line classes per doc —
    // a fixed passing sentence, the doc text with a terminal period
    // (varies per doc), a drop_patterns hit, and a too-short line.
    QueryDef("filter_lines",
      """SELECT doc_id, array_to_string(list_filter(
        |  string_split('A good line is here.' || chr(10) || text || '.' ||
        |    chr(10) || 'Subscribe for more.' || chr(10) || 'short', chr(10)),
        |  l -> len(list_filter(string_split_regex(trim(l), '\s+'), w -> len(w) > 0)) >= 3
        |       AND regexp_matches(trim(l), '[.!?"]$')
        |       AND NOT regexp_matches(l, '(?i)subscribe')), chr(10)) AS clean
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val planted = docs.withColumn("t",
        F.concat(F.lit("A good line is here.\n"), F.col("text"), F.lit(".\n"),
          F.lit("Subscribe for more.\nshort")))
      LineFilterOp(StageContext.one(s, planted, Cfg.of(
        "column" -> "t", "output_column" -> "clean",
        "min_words" -> 3, "require_terminal_punct" -> true,
        "drop_patterns" -> Seq("(?i)subscribe"))))
        .select("doc_id", "clean")
    },

    // ---- quality.gopher: the published Gopher rule set, metrics AND the
    // keep verdict both stated in SQL. The fixture plants three doc
    // classes: +4 stopwords (passes), a symbol flood (fails the ratio),
    // bullet/ellipsis lines (exercises the line metrics). Word = \s+-split
    // non-empty token in BOTH engines; ratios are unrounded integer-ratio
    // doubles (RepetitionOp discipline).
    QueryDef("quality_gopher",
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE doc_id % 3
        |      WHEN 0 THEN ' and that have with'
        |      WHEN 1 THEN ' ### ## #... ... ...'
        |      ELSE chr(10) || '- item one' || chr(10) || '- item two...' END AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split_regex(trim(t), '\s+'), w -> len(w) > 0) AS words,
        |    string_split(t, chr(10)) AS lines
        |  FROM p),
        |x AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CASE WHEN len(words) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE) / len(words) END AS mean_word_len,
        |    CASE WHEN len(words) = 0 THEN 0.0
        |         ELSE CAST((len(t) - len(replace(t, '#', '')))
        |              + (len(t) - len(replace(t, '...', ''))) / 3 AS DOUBLE) / len(words) END AS symbol_ratio,
        |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*[-*•]'))) AS DOUBLE) / len(lines) AS bullet_frac,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE) / len(lines) AS ellipsis_frac,
        |    CASE WHEN len(words) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(words) END AS alpha_frac,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(list_transform(words, w -> lower(w)), s))) AS BIGINT) AS n_stopwords
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
        |  ellipsis_frac, alpha_frac, n_stopwords,
        |  (n_words BETWEEN 20 AND 100000 AND mean_word_len BETWEEN 3 AND 10
        |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |   AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |   AND n_stopwords >= 1) AS keep
        |FROM x""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val planted = docs.withColumn("t",
        F.concat(F.col("text"),
          F.when(F.col("doc_id") % 3 === 0, F.lit(" and that have with"))
            .when(F.col("doc_id") % 3 === 1, F.lit(" ### ## #... ... ..."))
            .otherwise(F.lit("\n- item one\n- item two..."))))
      GopherQualityOp(StageContext.one(s, planted, Cfg.of(
        "column" -> "t", "min_words" -> 20, "min_stopwords" -> 1)))
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
          "ellipsis_frac", "alpha_frac", "n_stopwords", "keep")
    },

    // ---- quality.perplexity: the whole add-alpha unigram LM is SQL, so
    // the oracle restates it end to end: tokenize → corpus frequencies →
    // grand totals → per-word log-prob QUANTIZED to BIGINT (sum order
    // then can't produce cross-engine float drift) → per-doc mean nll +
    // perplexity derived from the exact integer sum.
    QueryDef("quality_perplexity",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |freq AS (SELECT w, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY w),
        |stats AS (SELECT sum(c) AS n, CAST(count(*) AS DOUBLE) AS v FROM freq),
        |lp AS (
        |  SELECT t.doc_id,
        |    CAST(round(ln((f.c + 0.5) / (s.n + 0.5 * s.v)) * 10000, 0) AS BIGINT) AS lpq
        |  FROM toks t JOIN freq f USING (w) CROSS JOIN stats s),
        |doc AS (
        |  SELECT doc_id, count(*) AS ppl_words, CAST(sum(lpq) AS BIGINT) AS slp
        |  FROM lp GROUP BY doc_id)
        |SELECT d.doc_id, doc.ppl_words,
        |  -(CAST(doc.slp AS DOUBLE) / 10000.0) / doc.ppl_words AS avg_nll,
        |  round(exp(-(CAST(doc.slp AS DOUBLE) / 10000.0) / doc.ppl_words), 3) AS perplexity
        |FROM documents d LEFT JOIN doc ON d.doc_id = doc.doc_id""".stripMargin) { (s, d) =>
      PerplexityOp(StageContext.one(s, t(s, d, "documents"), Cfg.of()))
        .select("doc_id", "ppl_words", "avg_nll", "perplexity")
    },

    // ---- BPE: tokenize.bpe with the 2-rule table {t+a→ta, ta+b→tab} has
    // a closed-form token count — every literal 'ta' fires merge 1 and
    // every literal 'tab' additionally fires merge 2 (no other rule
    // consumes t/a/b), so n_tokens = word_chars − #ta − #tab, all three
    // countable in SQL (non-overlapping counts via replace-length
    // deltas). bpe.train correctness is spec-pinned (BpeSpec reproduces
    // the Sennrich hand example); here it is rows-only.
    QueryDef("bpe_tokenize",
      """SELECT doc_id, CAST(
        |  len(regexp_replace(text, '\s+', '', 'g'))
        |  - (len(text) - len(replace(text, 'ta', ''))) / 2
        |  - (len(text) - len(replace(text, 'tab', ''))) / 3
        |AS BIGINT) AS n_tokens FROM documents""".stripMargin) { (s, d) =>
      BpeTokenizeOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "merges" -> Seq("t a", "ta b"))))
        .select("doc_id", "n_tokens")
    },
    // ---- bpe.train: the learned (rank,left,right) merge table restated
    // in SQL as m chained materialized CTE layers — each layer picks the
    // most frequent adjacent symbol pair (count>=2, lexicographic
    // tie-break = pairLt) and rewrites the space-delimited symbol strings
    // with replace() applied TWICE. Double-replace is exactly greedy
    // leftmost non-overlapping merging WHEN left != right: occurrences can
    // then never overlap in token space, pass 1 takes every occurrence
    // whose leading delimiter survives, and each skipped occurrence
    // regains its delimiter from the previous replacement, so pass 2
    // finishes the set (runs of identical symbols would break this, which
    // is why the gate stops at 8 merges — verified left != right for the
    // first 12 on this corpus). Tokens are space-free by construction, so
    // a replacement can never fabricate a new pattern occurrence.
    QueryDef("bpe_train", bpeTrainOracle(8)) { (s, d) =>
      BpeTrainOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "num_merges" -> 8)))
    },

    // ---- text.normalize: unicode canonicalization. The fixture plants a
    // Latin-Extended suffix where java.text.Normalizer (NFC + NFD-strip-
    // marks) and DuckDB's ICU nfc_normalize/strip_accents agree character
    // for character (ß æ œ ø are letters, not accents — neither engine
    // strips them; É ü Ñ å ç decompose in both).
    QueryDef("text_normalize",
      """SELECT doc_id,
        |  lower(strip_accents(nfc_normalize(text || ' CAFÉ Über Ñandú Åre çß æœø'))) AS norm
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val planted = docs.withColumn("planted",
        F.concat(F.col("text"), F.lit(" CAFÉ Über Ñandú Åre çß æœø")))
      TextNormalizeOp(StageContext.one(s, planted, Cfg.of(
        "column" -> "planted", "output_column" -> "norm",
        "form" -> "nfc", "strip_accents" -> true, "lowercase" -> true)))
        .select("doc_id", "norm")
    },

    // ---- url.normalize: canonicalization chain. The oracle is GENERATED
    // from the operator's own rule table (identical regexes, 'g' flag —
    // Spark's regexp_replace is always-global), so the two engines cannot
    // drift. The fixture URL exercises every rule: scheme, WWW, mixed-case
    // host/path, leading + trailing tracking params, fragment, slash.
    QueryDef("url_normalize", {
      val inner = "'https://WWW.' || source || '.Example.com/Path' || (doc_id % 5) || " +
        "'/?utm_source=x&id=' || (doc_id % 7) || '&gclid=Z&p=2#Sec' || doc_id"
      val chained = UrlNormalizeOp.rules.foldLeft(s"trim($inner)") { case (acc, (p, r)) =>
        s"regexp_replace($acc, '$p', '$r', 'g')"
      }
      s"SELECT doc_id, lower($chained) AS url_norm FROM documents"
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val planted = docs.withColumn("url",
        F.concat(F.lit("https://WWW."), F.col("source"), F.lit(".Example.com/Path"),
          (F.col("doc_id") % 5).cast("string"), F.lit("/?utm_source=x&id="),
          (F.col("doc_id") % 7).cast("string"), F.lit("&gclid=Z&p=2#Sec"),
          F.col("doc_id").cast("string")))
      UrlNormalizeOp(StageContext.one(s, planted, Cfg.of("column" -> "url")))
        .select("doc_id", "url_norm")
    },

    // ---- text.repetition: Gopher-style repetition metrics. Line metrics
    // have an exact SQL statement (unrounded single IEEE divisions of
    // integer counts — bit-identical across engines); n-gram metrics are
    // pinned by TextCleaningSpec fixtures. The query plants a duplicated
    // line so the metrics are non-trivial per document.
    QueryDef("text_repetition",
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split(text || chr(10) || source || chr(10) || source, chr(10))) AS line
        |  FROM documents),
        |tot AS (SELECT doc_id, count(*) AS n, sum(len(line)) AS tc FROM ex GROUP BY doc_id),
        |dst AS (SELECT doc_id, count(*) AS d, sum(len(line)) AS uc
        |        FROM (SELECT DISTINCT doc_id, line FROM ex) GROUP BY doc_id)
        |SELECT tot.doc_id,
        |  CAST(tot.n - dst.d AS DOUBLE) / tot.n AS dup_line_frac,
        |  CASE WHEN tot.tc = 0 THEN 0.0
        |       ELSE CAST(tot.tc - dst.uc AS DOUBLE) / tot.tc END AS dup_line_char_frac
        |FROM tot JOIN dst ON tot.doc_id = dst.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val planted = docs.withColumn("rep_text",
        F.concat(F.col("text"), F.lit("\n"), F.col("source"), F.lit("\n"), F.col("source")))
      RepetitionOp(StageContext.one(s, planted, Cfg.of("column" -> "rep_text")))
        .select("doc_id", "dup_line_frac", "dup_line_char_frac")
    },

    // ---- mongodb.find over an extended-JSON dump: builds a mongoexport-
    // style .jsonl (orders slice with {"$numberLong"} wrappers), then the
    // Mongo filter doc compiles to Catalyst and the wrappers normalize
    // before schema inference. Oracle states the same predicate in SQL.
    QueryDef("mongo_find_dump",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey < 2000 AND o_orderstatus IN ('O', 'F')
        |  AND o_totalprice > 50000""".stripMargin) { (s, d) =>
      val lines = t(s, d, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(F.concat(
          F.lit("{\"o_orderkey\": {\"$numberLong\": \""), F.col("o_orderkey").cast("string"),
          F.lit("\"}, \"o_orderstatus\": \""), F.col("o_orderstatus"),
          F.lit("\", \"o_totalprice\": "), F.col("o_totalprice").cast("string"),
          F.lit("}")).alias("value"))
      val dir = java.nio.file.Files.createTempDirectory("graft_mongo").toString + "/orders_dump"
      lines.write.text(dir)
      MongoFindSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> dir,
        "query" -> """{"o_orderstatus": {"$in": ["O", "F"]}, "o_totalprice": {"$gt": 50000}}""")))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    },

    // ---- mongodb.aggregate in transform mode: the aggregation pipeline
    // ($match → $group accumulators → $project $round) compiles to one
    // Catalyst plan over the input frame.
    QueryDef("mongo_aggregate_group",
      """SELECT o_orderstatus AS _id, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE o_totalprice > 100000 GROUP BY 1""".stripMargin) { (s, d) =>
      MongoAggregateSource(StageContext.one(s, t(s, d, "orders"), Cfg.of(
        "pipeline" ->
          """[{"$match": {"o_totalprice": {"$gt": 100000}}},
            | {"$group": {"_id": "$o_orderstatus", "n": {"$sum": 1},
            |             "rev": {"$sum": "$o_totalprice"}}},
            | {"$project": {"_id": 1, "n": 1, "rev": {"$round": ["$rev", 2]}}}]""".stripMargin)))
        .select("_id", "n", "rev")
    },

    // z-order is result-invariant (pure reordering) — the oracle checks the
    // pipeline around it; the row-group pruning win is measured in ZOrderSpec
    QueryDef("zorder_then_agg",
      """SELECT l_suppkey, l_partkey, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem WHERE l_suppkey < 50 GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val z = ZOrderOp(StageContext.one(s, t(s, d, "lineitem"), Cfg.of(
        "columns" -> Seq("l_suppkey", "l_partkey"), "bits" -> 10)))
      z.filter(F.col("l_suppkey") < 50)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("n"),
          F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    },

    // ---- js.eval: per-row JS transform through the native graft.js
    // interpreter. The script exercises member access, string methods,
    // Math.round, %, comparison, and the declared return-null-drops-row
    // semantic; the oracle states the same computation in SQL. Explicit
    // schema keeps the plan single-pass (no inference job).
    QueryDef("js_eval_transform",
      """SELECT c_custkey, upper(c_name) AS name_upper,
        |  lower(c_mktsegment) AS seg,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |  c_acctbal < 0 AS is_debtor, c_custkey % 7 AS key_mod
        |FROM customer WHERE c_custkey % 10 <> 0""".stripMargin) { (s, d) =>
      JsEvalOp(StageContext.one(s, t(s, d, "customer"), Cfg.of(
        "script" ->
          """function transform(row) {
            |  if (row.c_custkey % 10 === 0) return null; // drop every 10th
            |  return {
            |    c_custkey: row.c_custkey,
            |    name_upper: row.c_name.toUpperCase(),
            |    seg: row.c_mktsegment.toLowerCase(),
            |    bal_cents: Math.round(row.c_acctbal * 100),
            |    is_debtor: row.c_acctbal < 0,
            |    key_mod: row.c_custkey % 7
            |  };
            |}""".stripMargin,
        "schema" -> ("c_custkey BIGINT, name_upper STRING, seg STRING, " +
          "bal_cents BIGINT, is_debtor BOOLEAN, key_mod BIGINT"))))
        .select("c_custkey", "name_upper", "seg", "bal_cents", "is_debtor", "key_mod")
    },

    // ---- js.eval regex surface: literals, g-flag replace, split, test.
    // Patterns are kept inside the java.util.regex ∩ RE2 intersection so
    // DuckDB states the identical semantics (same discipline as
    // text.redact).
    QueryDef("js_eval_regex",
      """SELECT c_custkey,
        |  regexp_replace(c_name, '[^0-9]', '', 'g') AS name_digits,
        |  regexp_replace(lower(c_mktsegment), '[^a-z]+', '_', 'g') AS seg_norm,
        |  CAST(len(string_split_regex(c_name, '#')) AS BIGINT) AS n_parts,
        |  regexp_matches(c_mktsegment, 'H') AS has_h
        |FROM customer""".stripMargin) { (s, d) =>
      JsEvalOp(StageContext.one(s, t(s, d, "customer"), Cfg.of(
        "script" ->
          """function transform(row) {
            |  return {
            |    c_custkey: row.c_custkey,
            |    name_digits: row.c_name.replace(/[^0-9]/g, ""),
            |    seg_norm: row.c_mktsegment.toLowerCase().replace(/[^a-z]+/g, "_"),
            |    n_parts: row.c_name.split(/#/).length,
            |    has_h: /H/.test(row.c_mktsegment)
            |  };
            |}""".stripMargin,
        "schema" -> ("c_custkey BIGINT, name_digits STRING, seg_norm STRING, " +
          "n_parts BIGINT, has_h BOOLEAN"))))
        .select("c_custkey", "name_digits", "seg_norm", "n_parts", "has_h")
    },

    // repartition is result-invariant — the oracle checks the pipeline
    // around it; partition-layout semantics are asserted in ScaleJoinSpec
    QueryDef("repartition_then_agg",
      """SELECT l_suppkey, count(*) AS n, sum(l_quantity) AS qty
        |FROM lineitem GROUP BY l_suppkey""".stripMargin) { (s, d) =>
      val rp = RepartitionOp(StageContext.one(s, t(s, d, "lineitem"), Cfg.of(
        "n" -> 16, "by" -> Seq("l_suppkey"))))
      rp.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
    },

    // ---- decontaminate.ngram at the GPT-3 parameters (13-gram collision
    // vs the benchmark split): the oracle restates the whole rule — the
    // planted near-dup pairs straddle the %10 split, so 6 docs really
    // are contaminated. Counts are over DISTINCT grams per doc on both
    // sides (shingleHashes emits a distinct set; the whole-doc gram for
    // short docs matches the CASE arm).
    QueryDef("decontaminate_ngram",
      """WITH toks AS (SELECT doc_id, """ + duckToks + """ AS w FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(w) < 13 THEN [array_to_string(w, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(w) - 12),
        |    i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6],
        |                        w[i+7], w[i+8], w[i+9], w[i+10], w[i+11], w[i+12]))) END AS s
        |  FROM toks),
        |bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0),
        |tg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 0),
        |m AS (SELECT tg.doc_id, count(*) AS nm FROM tg JOIN bg ON tg.g = bg.g GROUP BY 1)
        |SELECT s.doc_id, len(s.s) AS n_ngrams, COALESCE(m.nm, 0) AS n_matched_ngrams,
        |  COALESCE(m.nm, 0) >= 1 AS contaminated
        |FROM sh s LEFT JOIN m ON s.doc_id = m.doc_id
        |WHERE s.doc_id % 10 <> 0""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      DecontaminateOp(StageContext(s, Seq(
        "train" -> docs.filter(F.col("doc_id") % 10 =!= 0),
        "bench" -> docs.filter(F.col("doc_id") % 10 === 0)), Cfg.of(
        "id_column" -> "doc_id", "column" -> "text", "n" -> 13,
        "mode" -> "annotate")))
        .select(F.col("doc_id"), F.col("n_ngrams").cast("long"),
          F.col("n_matched_ngrams"), F.col("contaminated"))
    },

    // ---- decontaminate.embedding (r11): SEMANTIC decontamination — the
    // benchmark is a scaled (×2) copy of every vec_id % 10 == 0 vector, so
    // cosine is exactly 1 on the planted leaks and every other cross pair
    // sits below the 0.99 threshold (planted near-dup pairs top out at
    // 0.95+ε — the same separation similar_join_embedding already pins at
    // both SFs). Each leak matches exactly ONE benchmark doc, so the whole
    // annotate contract (match count + flag) is a constant-expressible
    // oracle; max_benchmark_cosine is engine float math and projected away
    // (DecontaminateEmbeddingSpec pins it instead).
    QueryDef("decontaminate_embedding",
      """SELECT vec_id, label,
        |  CAST(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_benchmark_matches,
        |  (vec_id % 10 = 0) AS contaminated
        |FROM embeddings""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val bench = emb.filter(F.col("vec_id") % 10 === 0)
        .select((F.col("vec_id") + 100000).as("vec_id"),
          F.transform(F.col("embedding"), x => x * F.lit(2.0f)).cast("array<float>").as("embedding"),
          F.col("label"))
      DecontaminateEmbeddingOp(StageContext(s, Seq("train" -> emb, "bench" -> bench),
        Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding",
          "threshold" -> 0.99, "planes" -> 32, "blocks" -> 4, "seed" -> 7,
          "mode" -> "annotate")))
        .select("vec_id", "label", "n_benchmark_matches", "contaminated")
    },

    // ---- decontaminate.embedding via index_path: the SAME construction
    // and oracle, but the benchmark lives in a PREBUILT bands-layout lsh
    // index — the fixed-eval-suite shape (embed + index the benchmark
    // once, probe it per training batch). Scaling ×2 preserves hyperplane
    // signs, so banded recall on the cosine-1 leaks is deterministic.
    QueryDef("decontaminate_embedding_index",
      """SELECT vec_id, label,
        |  CAST(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_benchmark_matches,
        |  (vec_id % 10 = 0) AS contaminated
        |FROM embeddings""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val bench = emb.filter(F.col("vec_id") % 10 === 0)
        .select((F.col("vec_id") + 100000).as("vec_id"),
          F.transform(F.col("embedding"), x => x * F.lit(2.0f)).cast("array<float>").as("embedding"))
      val idx = java.nio.file.Files.createTempDirectory("graft_dce_idx").toString
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, bench, Cfg.of(
        "type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "bands" -> 8, "band_planes" -> 12, "seed" -> 7, "partition_dirs" -> 4)))
      }
      DecontaminateEmbeddingOp(StageContext.one(s, emb,
        Cfg.of("id_column" -> "vec_id", "vector_column" -> "embedding",
          "threshold" -> 0.99, "index_path" -> idx, "mode" -> "annotate")))
        .select("vec_id", "label", "n_benchmark_matches", "contaminated")
    },

    // ---- text.sentences: the corpus has no punctuation, so both engines
    // synthesize identically-punctuated docs (substr + terminators),
    // then run the same replace-then-split (RE2 ∩ java.regex — no
    // lookbehind) and compare sentence rows.
    QueryDef("text_sentences",
      """WITH p AS (SELECT doc_id,
        |  substr(text, 1, 40) || '. ' || substr(text, 41, 40) || '! '
        |    || substr(text, 81, 100000) || '?' AS text FROM documents),
        |m AS (SELECT doc_id, string_split(
        |  regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) AS ss FROM p)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS sentence_id, ss[i] AS sentence
        |FROM m, LATERAL (SELECT unnest(generate_series(1, len(ss))) AS i)""".stripMargin) { (s, d) =>
      val punct = t(s, d, "documents").select(F.col("doc_id"), F.concat(
        F.substring(F.col("text"), 1, 40), F.lit(". "),
        F.substring(F.col("text"), 41, 40), F.lit("! "),
        F.substring(F.col("text"), 81, 100000), F.lit("?")).as("text"))
      SentencesOp(StageContext.one(s, punct, Cfg.of()))
        .select("doc_id", "sentence_id", "sentence")
    },

    // ---- mix.apply with integer weights: exactly-N copies per source
    // (the deterministic half of domain mixing — fractional sampling is
    // engine-hash, spec-pinned in MixSpec).
    QueryDef("mix_weighted",
      """SELECT doc_id, text, 'wiki' AS src FROM documents WHERE doc_id < 100
        |UNION ALL SELECT doc_id, text, 'wiki' FROM documents WHERE doc_id < 100
        |UNION ALL SELECT doc_id, text, 'web' FROM documents WHERE doc_id >= 100""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      MixOp(StageContext(s, Seq(
        "wiki" -> docs.filter(F.col("doc_id") < 100).select("doc_id", "text"),
        "web" -> docs.filter(F.col("doc_id") >= 100).select("doc_id", "text")), Cfg.of(
        "weights" -> Seq(2.0, 1.0), "source_column" -> "src",
        "sources" -> Seq("wiki", "web"))))
    },

    // ---- mix.apply temperature (r11): α = 1 with target_rows = 2× the
    // input total derives weight exactly 2.0 for every source (natural
    // proportions, doubled) — the weight DERIVATION from measured source
    // sizes is what's under test, through the integer-copy path SQL can
    // state. Fractional α (0.3, 0) realized-proportion behavior is
    // engine-hash, spec-pinned in MixSpec.
    QueryDef("mix_temperature",
      """SELECT doc_id, text, 'wiki' AS src FROM documents WHERE doc_id < 100
        |UNION ALL SELECT doc_id, text, 'wiki' FROM documents WHERE doc_id < 100
        |UNION ALL SELECT doc_id, text, 'web' FROM documents WHERE doc_id >= 100
        |UNION ALL SELECT doc_id, text, 'web' FROM documents WHERE doc_id >= 100""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val total = docs.count()
      MixOp(StageContext(s, Seq(
        "wiki" -> docs.filter(F.col("doc_id") < 100).select("doc_id", "text"),
        "web" -> docs.filter(F.col("doc_id") >= 100).select("doc_id", "text")), Cfg.of(
        "temperature" -> 1.0, "target_rows" -> (2L * total),
        "source_column" -> "src", "sources" -> Seq("wiki", "web"))))
    },

    // ---- mongodb.findOne: sort + limit-1 document pick (Mongo
    // evaluation order: sort before projection), transform mode.
    QueryDef("mongo_find_one",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 1""".stripMargin) { (s, d) =>
      MongoFindOneSource(StageContext.one(s, t(s, d, "orders"), Cfg.of(
        "sort" -> """{"o_totalprice": -1, "o_orderkey": 1}""",
        "projection" -> """{"o_orderkey": 1, "o_totalprice": 1}""")))
    },

    // ---- http.get in mock mode: array response → rows (the offline
    // contract of the driver-side http source family).
    QueryDef("http_get_mock",
      """SELECT * FROM (VALUES (1, 'alice', true), (2, 'bob', false))
        |AS t(id, name, active) ORDER BY id""".stripMargin) { (s, d) =>
      HttpGetSource(StageContext(s, Seq.empty, Cfg.of(
        "url" -> "https://api.example.test/users",
        "mock_response" ->
          """[{"id": 1, "name": "alice", "active": true},
            | {"id": 2, "name": "bob", "active": false}]""".stripMargin)))
        .select("id", "name", "active")
    },

    // ---- window.rank: the remaining analytic functions (ntile buckets
    // + cumulative distribution) over a keyed ordering.
    QueryDef("window_ntile_cume",
      """SELECT o_custkey, o_orderkey,
        |  ntile(4) OVER w AS quartile,
        |  cume_dist() OVER w AS cd
        |FROM orders WHERE o_custkey < 20
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, d) =>
      val base = t(s, d, "orders").filter(F.col("o_custkey") < 20)
      val win = Cfg.of(
        "partition_by" -> Seq("o_custkey"),
        "order_by" -> Seq("o_totalprice", "o_orderkey"))
      val quart = WindowFnOp(StageContext.one(s, base, Cfg(win.table ++ Cfg.of(
        "function" -> "ntile", "n" -> 4, "output_column" -> "quartile").table)))
      WindowFnOp(StageContext.one(s, quart, Cfg(win.table ++ Cfg.of(
        "function" -> "cume_dist", "output_column" -> "cd").table)))
        .select("o_custkey", "o_orderkey", "quartile", "cd")
    },

    // ---- join.similar mode=pairs: the emitted score IS the exact
    // word-3-shingle Jaccard (verify step), an integer ratio — the
    // oracle computes the identical quantity per cross-split pair. The
    // divisions are exact-integer ratios, bit-identical across engines.
    QueryDef("similar_join_pairs",
      ("""WITH toks AS (SELECT doc_id, """ + duckToks + """ AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - 2),
        |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s FROM toks),
        |l AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
        |r AS (SELECT * FROM sh WHERE doc_id % 10 = 0)
        |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM l a JOIN r b ON CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""").stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      SimilarJoinOp(StageContext(s, Seq(
        "l" -> docs.filter(F.col("doc_id") % 10 =!= 0),
        "r" -> docs.filter(F.col("doc_id") % 10 === 0)), Cfg.of(
        "id_column" -> "doc_id", "text_column" -> "text",
        "shingle_size" -> 3, "num_hashes" -> 128, "bands" -> 32,
        "threshold" -> 0.8, "mode" -> "pairs")))
        .select("left_id", "right_id", "jaccard")
    },

    // ---- join.similar method=embedding, semi mode: the right side is
    // an exact copy of HALF the corpus (shifted ids), so semi must keep
    // exactly that half — cosine 1.0 on planted matches, every other
    // pair far below threshold (planted near-dup pairs sit at >= 0.95,
    // threshold 0.99 excludes them). Selective, not trivially-all.
    QueryDef("similar_join_embedding",
      "SELECT vec_id, label FROM embeddings WHERE vec_id < 250") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val half = emb.filter(F.col("vec_id") < 250)
        .withColumn("vec_id", F.col("vec_id") + 100000)
      SimilarJoinOp(StageContext(s, Seq("l" -> emb, "r" -> half), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "method" -> "embedding", "threshold" -> 0.99,
        "planes" -> 32, "blocks" -> 4, "seed" -> 7, "mode" -> "semi")))
        .select("vec_id", "label")
    },

    // blocking=ivf on the same construction at the exhaustive setting
    // (nlist=1): the cluster-blocked cross join + verify must reproduce
    // the same oracle as the pigeonhole gate above. Pruned-nlist recall
    // is the documented cluster-blocking trade (ClusterAssignSpec).
    QueryDef("similar_join_embedding_ivf",
      "SELECT vec_id, label FROM embeddings WHERE vec_id < 250") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val half = emb.filter(F.col("vec_id") < 250)
        .withColumn("vec_id", F.col("vec_id") + 100000)
      SimilarJoinOp(StageContext(s, Seq("l" -> emb, "r" -> half), Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "method" -> "embedding", "threshold" -> 0.99,
        "blocking" -> "ivf", "nlist" -> 1, "seed" -> 7, "mode" -> "semi")))
        .select("vec_id", "label")
    },

    // ---- join.similar method=embedding index_path (r7): the same
    // semi-mode construction, but the copied half lives in a PREBUILT
    // bands-layout lsh index (scaled ×2 so exact-collapse can't shortcut
    // — every match travels the banded partition join). Same oracle as
    // similar_join_embedding.
    QueryDef("similar_join_index_embedding",
      "SELECT vec_id, label FROM embeddings WHERE vec_id < 250") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val half = emb.filter(F.col("vec_id") < 250)
        .select((F.col("vec_id") + 100000).as("vec_id"),
          F.transform(F.col("embedding"), x => x * F.lit(2.0f)).cast("array<float>").as("embedding"),
          F.col("label"))
      val idx = java.nio.file.Files.createTempDirectory("graft_sjie_idx").toString
      BenchPhases.time("index_build") {
      IndexBuildOp(StageContext.one(s, half, Cfg.of(
        "type" -> "lsh", "blocking" -> "bands", "path" -> idx,
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "bands" -> 8, "band_planes" -> 12, "seed" -> 7, "partition_dirs" -> 4)))
      }
      SimilarJoinOp(StageContext.one(s, emb, Cfg.of(
        "id_column" -> "vec_id", "vector_column" -> "embedding",
        "method" -> "embedding", "threshold" -> 0.99,
        "index_path" -> idx, "mode" -> "semi")))
        .select("vec_id", "label")
    },

    // ---- the full corpus-cleaning pipeline as ONE composed plan: the
    // shipped example TOML (html.strip → normalize → redact → dedup.lines
    // → C4 lines → Gopher → repetition → exact + fuzzy decontamination →
    // js.eval → BPE → packing) compiled end-to-end. Rows-only by design
    // (the oracle would be the union of ten operator oracles); per-stage
    // correctness is each operator's own gate — THIS entry measures the
    // composed end-to-end cost next to the reference's 1-second toy
    // pipeline (BASELINE.md #4).
    QueryDef.noOracle("pipeline_corpus_e2e") { (s, d) =>
      // per-stage compose attribution: the r10 phase split showed
      // compile:materialize ≈ 99:1 for this gate — eager stages (bpe
      // vocab jobs, decontamination pins) do their work at compose time,
      // so the split that matters is BY STAGE FUNCTION; sub-0.15 s
      // compositions lump into compile:misc to keep the artifact readable
      val toml = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/root/repo/examples/corpus-cleaning.toml")),
        java.nio.charset.StandardCharsets.UTF_8)
        .replace("/root/testdata/sf0.01", d)
      val pc = graft.config.PipelineConfig.fromString(toml)
      new graft.core.DagCompiler(graft.core.Registry.withDefaults)
        .compilePlans(s, pc, onStage = (_, fn, sec) =>
          BenchPhases.add(if (sec >= 0.15) s"compile:$fn" else "compile:misc", sec)
        )("packed")
    },

    // ---- explode.apply: expression-source generator (split → one row
    // per word with its index) — unnest WITH ORDINALITY in DuckDB terms.
    QueryDef("explode_words",
      """SELECT doc_id, CAST(i - 1 AS INT) AS i, w[i] AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |      WHERE doc_id < 50),
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)""".stripMargin) { (s, d) =>
      ExplodeOp(StageContext.one(s,
        t(s, d, "documents").filter(F.col("doc_id") < 50).select("doc_id", "text"),
        Cfg.of("column" -> "split(text, ' ')", "into" -> "word", "position_column" -> "i")))
        .select("doc_id", "i", "word")
    },

    // ---- profile.apply: the per-column report restated as UNION ALL
    // branches (string-rendered min/max keep one output schema; bigint,
    // string, double and date all round-trip the cast identically).
    QueryDef("profile_orders",
      """SELECT 'o_orderkey' AS "column", 'bigint' AS dtype, count(*) AS n_rows,
        |  count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_value, CAST(max(o_orderkey) AS VARCHAR) AS max_value,
        |  quantile_cont(o_orderkey, 0.5) AS q50
        |FROM orders WHERE o_orderkey < 60000
        |UNION ALL SELECT 'o_orderstatus', 'string', count(*), count(o_orderstatus),
        |  count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus),
        |  NULL FROM orders WHERE o_orderkey < 60000
        |UNION ALL SELECT 'o_totalprice', 'double', count(*), count(o_totalprice),
        |  count(DISTINCT o_totalprice), CAST(min(o_totalprice) AS VARCHAR),
        |  CAST(max(o_totalprice) AS VARCHAR), quantile_cont(o_totalprice, 0.5) FROM orders WHERE o_orderkey < 60000
        |UNION ALL SELECT 'o_orderdate', 'timestamp_ntz', count(*), count(o_orderdate),
        |  count(DISTINCT o_orderdate), CAST(min(o_orderdate) AS VARCHAR),
        |  CAST(max(o_orderdate) AS VARCHAR), NULL FROM orders WHERE o_orderkey < 60000""".stripMargin) { (s, d) =>
      // exact paths OPT-IN here (the defaults are approx — scale-safe);
      // this gate pins the exact semantics at sf0.01 where exact is cheap
      // bounded input (o_orderkey < 60000 ≈ all of sf0.01): the exact path
      // exists for correctness decisions on bounded slices, and the bench
      // at sf0.1 should time that contract, not exact-percentile a 10×
      // table the operator's defaults would never touch
      ProfileOp(StageContext.one(s,
        t(s, d, "orders").filter(F.col("o_orderkey") < 60000), Cfg.of(
        "columns" -> Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
        "quantiles" -> Seq(0.5), "distinct" -> "exact", "quantiles_exact" -> true)))
    },

    // ---- profile.apply DEFAULT path (approx distinct + approx quantiles):
    // the oracle gates every deterministic output column — n_distinct is an
    // HLL estimate and q50 a GK-sketch value, both engine-defined, so the
    // gate projects them away; ProfileSpec pins their accuracy instead.
    QueryDef("profile_defaults",
      """SELECT 'o_orderkey' AS "column", 'bigint' AS dtype, count(*) AS n_rows,
        |  count(o_orderkey) AS n_nonnull,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_value, CAST(max(o_orderkey) AS VARCHAR) AS max_value
        |FROM orders
        |UNION ALL SELECT 'o_totalprice', 'double', count(*), count(o_totalprice),
        |  CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR) FROM orders""".stripMargin) { (s, d) =>
      ProfileOp(StageContext.one(s, t(s, d, "orders"), Cfg.of(
        "columns" -> Seq("o_orderkey", "o_totalprice"), "quantiles" -> Seq(0.5))))
        .select("column", "dtype", "n_rows", "n_nonnull", "min_value", "max_value")
    },

    // ---- chunk.text: token-budget chunking with overlap — the start
    // arithmetic (advance by max-overlap, stop at len-overlap-1, one
    // chunk for short docs) restates verbatim in SQL. Splits on raw
    // whitespace (NOT lowercased), so the oracle split differs from
    // duckToks deliberately.
    QueryDef("chunk_text",
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |st AS (SELECT doc_id, w,
        |  unnest(generate_series(0, greatest(len(w) - 8 - 1, 0), 32)) AS s,
        |  CAST(unnest(generate_series(0, CAST(floor(greatest(len(w) - 8 - 1, 0) / 32.0) AS BIGINT))) AS BIGINT) AS chunk_id
        |  FROM toks)
        |SELECT doc_id, chunk_id,
        |  array_to_string(w[s + 1 : s + 40], ' ') AS chunk,
        |  CAST(least(40, len(w) - s) AS BIGINT) AS n_chunk_tokens
        |FROM st""".stripMargin) { (s, d) =>
      ChunkTextOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "max_tokens" -> 40L, "overlap" -> 8L)))
        .select("doc_id", "chunk_id", "chunk", "n_chunk_tokens")
    },

    // ---- sample.importance (DSIR): the full scoring pipeline restated
    // in SQL — md5-prefix feature bucketing (the operator hashes with
    // md5 precisely so the oracle can), add-alpha bucket distributions
    // on both corpora, and the quantized per-bucket log-ratio summed per
    // doc as exact integers (no float-order drift on either engine).
    QueryDef("importance_weights",
      ("""WITH rawd AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
        |tgt AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |rt AS (SELECT doc_id, """ + duckToks + """ AS w FROM rawd),
        |tt AS (SELECT """ + duckToks + """ AS w FROM tgt),
        |rg AS (SELECT doc_id, substr(md5(g), 1, 4) AS b FROM (
        |  SELECT doc_id, unnest(list_concat(w,
        |    CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w) - 1),
        |      i -> concat_ws(' ', w[i], w[i+1])) ELSE []::VARCHAR[] END)) AS g FROM rt)),
        |tg AS (SELECT substr(md5(g), 1, 4) AS b FROM (
        |  SELECT unnest(list_concat(w,
        |    CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w) - 1),
        |      i -> concat_ws(' ', w[i], w[i+1])) ELSE []::VARCHAR[] END)) AS g FROM tt)),
        |cr AS (SELECT b, CAST(count(*) AS DOUBLE) AS c FROM rg GROUP BY 1),
        |ct AS (SELECT b, CAST(count(*) AS DOUBLE) AS c FROM tg GROUP BY 1),
        |w8 AS (SELECT COALESCE(cr.b, ct.b) AS b, COALESCE(cr.c, 0) AS cr,
        |         COALESCE(ct.c, 0) AS ct FROM cr FULL OUTER JOIN ct ON cr.b = ct.b),
        |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM w8),
        |lr AS (SELECT b, CAST(round((ln((ct + 0.5) / (nt + 0.5 * 65536))
        |  - ln((cr + 0.5) / (nr + 0.5 * 65536))) * 10000, 0) AS BIGINT) AS lrq
        |  FROM w8, tot),
        |pd AS (SELECT rg.doc_id, count(*) AS n_features, sum(lr.lrq) AS slrq
        |  FROM rg JOIN lr ON rg.b = lr.b GROUP BY 1)
        |SELECT d.doc_id, pd.n_features,
        |  CAST(pd.slrq AS DOUBLE) / 10000 AS log_importance
        |FROM rawd d JOIN pd ON d.doc_id = pd.doc_id""").stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      ImportanceSampleOp(StageContext(s, Seq(
        "raw" -> docs.filter(F.col("doc_id") % 10 =!= 0),
        "target" -> docs.filter(F.col("doc_id") % 10 === 0)), Cfg.of(
        "id_column" -> "doc_id", "column" -> "text", "mode" -> "annotate")))
        .select("doc_id", "n_features", "log_importance")
    },

    // ---- kafka round-trip over the file-backed log: produce an orders
    // slice (single partition, status-keyed), consume it back with a fresh
    // group and a declared schema. The payload column is zero-padded so
    // the produce offset order (payload-lexicographic) equals numeric
    // orderkey order — the oracle then states offsets as a row_number,
    // checking values, keys, AND log positions.
    QueryDef("kafka_roundtrip",
      """SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS okey,
        |  o_orderstatus AS status, o_orderstatus AS _kafka_key,
        |  0 AS _kafka_partition,
        |  row_number() OVER (ORDER BY o_orderkey) - 1 AS _kafka_offset
        |FROM orders WHERE o_orderkey < 2000""".stripMargin) { (s, d) =>
      val slice = t(s, d, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(F.lpad(F.col("o_orderkey").cast("string"), 10, "0").as("okey"),
          F.col("o_orderstatus").as("status"))
      val root = java.nio.file.Files.createTempDirectory("graft_kafka").toString
      KafkaProduceSink(StageContext.one(s, slice, Cfg.of(
        "path" -> root, "topic" -> "orders", "key_field" -> "status")))
      KafkaConsumeSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> root, "topic" -> "orders", "group_id" -> "gate",
        "max_messages" -> 0L, "schema" -> "okey STRING, status STRING")))
        .select(F.col("okey"), F.col("status"), F.col("_kafka_key"),
          F.col("_kafka_partition").cast("int").as("_kafka_partition"),
          F.col("_kafka_offset"))
    },

    // ---- kafka multi-partition: murmur3 routing is engine-defined, so
    // the oracle checks the payload values and keys round-trip intact
    // through a 4-partition log; per-partition offset density and routing
    // determinism are pinned in KafkaSpec.
    QueryDef("kafka_partitioned",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  o_orderpriority AS _kafka_key
        |FROM orders WHERE o_orderkey < 4000""".stripMargin) { (s, d) =>
      val slice = t(s, d, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_kafka").toString
      KafkaProduceSink(StageContext.one(s, slice, Cfg.of(
        "path" -> root, "topic" -> "orders", "key_field" -> "o_orderpriority",
        "num_partitions" -> 4L)))
      KafkaConsumeSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> root, "topic" -> "orders", "group_id" -> "gate",
        "max_messages" -> 0L,
        "schema" -> "o_orderkey LONG, o_orderpriority STRING, o_totalprice DOUBLE")))
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "_kafka_key")
    },

    // ---- kafka.compact: two generations of the same zero-padded keys;
    // compaction keeps only generation 2, with its ORIGINAL (sparse)
    // offsets — stated in SQL as count(gen1) + key rank within gen2.
    QueryDef("kafka_compacted",
      """SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS okey,
        |  o_totalprice * 2 AS price,
        |  lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS _kafka_key,
        |  (SELECT count(*) FROM orders WHERE o_orderkey < 1000)
        |    + row_number() OVER (ORDER BY o_orderkey) - 1 AS _kafka_offset
        |FROM orders WHERE o_orderkey < 1000""".stripMargin) { (s, d) =>
      def gen(mult: Double) = t(s, d, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(F.lpad(F.col("o_orderkey").cast("string"), 10, "0").as("okey"),
          (F.col("o_totalprice") * mult).as("price"))
      val root = java.nio.file.Files.createTempDirectory("graft_kafka").toString
      KafkaProduceSink(StageContext.one(s, gen(1.0), Cfg.of(
        "path" -> root, "topic" -> "orders", "key_field" -> "okey")))
      KafkaProduceSink(StageContext.one(s, gen(2.0), Cfg.of(
        "path" -> root, "topic" -> "orders", "key_field" -> "okey")))
      KafkaCompactOp(StageContext(s, Seq.empty, Cfg.of(
        "path" -> root, "topic" -> "orders"), "compact"))
      KafkaConsumeSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> root, "topic" -> "orders", "group_id" -> "gate",
        "max_messages" -> 0L, "schema" -> "okey STRING, price DOUBLE")))
        .select("okey", "price", "_kafka_key", "_kafka_offset")
    },

    // ---- retention_segments: three single-segment produces with keep=2 —
    // the oldest batch vanishes, survivors keep their original offsets
    // (= batch-1 count + rank within each surviving batch).
    QueryDef("kafka_retained",
      """WITH n1 AS (SELECT count(*) AS c FROM orders WHERE o_orderkey < 1000)
        |SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS okey, o_orderstatus AS status,
        |  (SELECT c FROM n1) + row_number() OVER (ORDER BY o_orderkey) - 1 AS _kafka_offset
        |FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
        |UNION ALL
        |SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0'), o_orderstatus,
        |  (SELECT c FROM n1)
        |    + (SELECT count(*) FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000)
        |    + row_number() OVER (ORDER BY o_orderkey) - 1
        |FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 3000""".stripMargin) { (s, d) =>
      def batch(lo: Long, hi: Long) = t(s, d, "orders")
        .filter(F.col("o_orderkey") >= lo && F.col("o_orderkey") < hi)
        .select(F.lpad(F.col("o_orderkey").cast("string"), 10, "0").as("okey"),
          F.col("o_orderstatus").as("status"))
      val root = java.nio.file.Files.createTempDirectory("graft_kafka").toString
      for ((lo, hi) <- Seq((0L, 1000L), (1000L, 2000L), (2000L, 3000L)))
        KafkaProduceSink(StageContext.one(s, batch(lo, hi), Cfg.of(
          "path" -> root, "topic" -> "orders", "retention_segments" -> 2L)))
      KafkaConsumeSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> root, "topic" -> "orders", "group_id" -> "gate",
        "max_messages" -> 0L, "schema" -> "okey STRING, status STRING")))
        .select("okey", "status", "_kafka_offset")
    },

    // ---- topk.approx over document tokens: capacity (200k) far exceeds
    // any partition's distinct-token count at gate scale, so the
    // Misra-Gries summary never evicts and counts are EXACT — the oracle
    // restates the whole computation as groupBy + deterministic top-k
    // (count desc, term asc). count_max restates the documented bound:
    // count + floor(total_tokens / capacity).
    QueryDef("topk_tokens",
      s"""WITH toks0 AS (SELECT unnest($duckToks) AS term FROM documents WHERE text IS NOT NULL),
         |toks AS (SELECT term FROM toks0 WHERE term <> ''),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
         |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS count FROM toks GROUP BY term)
         |SELECT term, count, CAST(count + (SELECT n // 200000 FROM tot) AS BIGINT) AS count_max
         |FROM cnt ORDER BY count DESC, term LIMIT 40""".stripMargin) { (s, d) =>
      TopKOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "column" -> "text", "tokenize" -> true, "k" -> 40, "capacity" -> 200000)))
    },

    // ---- incremental sketch+merge path: each corpus half sketched
    // independently (output=summary), merged into the global top-k — in
    // the exact regime the merged counts equal the one-pass counts, so
    // the oracle is the SAME whole-corpus SQL as topk_tokens.
    QueryDef("topk_merge",
      s"""WITH toks0 AS (SELECT unnest($duckToks) AS term FROM documents WHERE text IS NOT NULL),
         |toks AS (SELECT term FROM toks0 WHERE term <> ''),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
         |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS count FROM toks GROUP BY term)
         |SELECT term, count, CAST(count + (SELECT n // 200000 FROM tot) AS BIGINT) AS count_max
         |FROM cnt ORDER BY count DESC, term LIMIT 40""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      def sketch(half: DataFrame) = TopKOp(StageContext.one(s, half, Cfg.of(
        "column" -> "text", "tokenize" -> true, "capacity" -> 200000,
        "output" -> "summary")))
      TopKMergeOp(StageContext(s, Seq(
        "even" -> sketch(docs.filter(F.col("doc_id") % 2 === 0)),
        "odd" -> sketch(docs.filter(F.col("doc_id") % 2 =!= 0))), Cfg.of("k" -> 40)))
    },

    // ---- stream.sketch batch-parity: the SAME exact-regime top-k as
    // topk_tokens, but the corpus arrives through the real Structured
    // Streaming path — file.stream (one parquet file per micro-batch) →
    // stream.sketch (per-micro-batch Misra-Gries summaries persisted
    // under ingest_batch partitions) → topk.merge over the summary dir.
    // Merge is order- and batching-independent, and in the exact regime
    // merged-streaming ≡ one-pass batch, so the oracle is the identical
    // whole-corpus SQL.
    QueryDef("stream_sketch_parity",
      s"""WITH toks0 AS (SELECT unnest($duckToks) AS term FROM documents WHERE text IS NOT NULL),
         |toks AS (SELECT term FROM toks0 WHERE term <> ''),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
         |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS count FROM toks GROUP BY term)
         |SELECT term, count, CAST(count + (SELECT n // 200000 FROM tot) AS BIGINT) AS count_max
         |FROM cnt ORDER BY count DESC, term LIMIT 40""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val streamDir = java.nio.file.Files.createTempDirectory("graft_sk_in").toString
      docs.filter(F.col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("append").parquet(streamDir)
      backdate(streamDir) // distinct mtimes → two micro-batches
      docs.filter(F.col("doc_id") % 2 =!= 0)
        .coalesce(1).write.mode("append").parquet(streamDir)
      val stream = graft.streaming.FileStreamSource(StageContext(s, Seq.empty, Cfg.of(
        "path" -> streamDir, "format" -> "parquet", "max_files_per_trigger" -> 1L)))
      val sums = java.nio.file.Files.createTempDirectory("graft_sk_out").toString + "/sums"
      graft.streaming.StreamSketchSink(StageContext.one(s, stream, Cfg.of(
        "path" -> sums, "trigger" -> "available_now",
        "column" -> "text", "tokenize" -> true, "capacity" -> 200000)))
      TopKMergeOp(StageContext(s, Seq("sums" -> s.read.parquet(sums)),
        Cfg.of("k" -> 40)))
    },

    // ---- grouped top-k: an independent exact-regime sketch per source
    // (capacity >> per-(partition, group) distinct tokens), per-group
    // error bound from each source's own token total. The oracle restates
    // the whole per-group computation: window-ranked counts and
    // count_max = count + floor(N_source / capacity).
    QueryDef("topk_grouped",
      s"""WITH toks0 AS (SELECT source, unnest($duckToks) AS term
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         |toks AS (SELECT source, term FROM toks0 WHERE term <> ''),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY source),
         |cnt AS (SELECT source, term, CAST(count(*) AS BIGINT) AS count
         |  FROM toks GROUP BY source, term),
         |rk AS (SELECT source, term, count, row_number() OVER (
         |    PARTITION BY source ORDER BY count DESC, term ASC) AS rn FROM cnt)
         |SELECT r.source, r.term, r.count,
         |  CAST(r.count + t.n // 200000 AS BIGINT) AS count_max
         |FROM rk r JOIN tot t ON r.source = t.source
         |WHERE r.rn <= 5""".stripMargin) { (s, d) =>
      TopKOp(StageContext.one(s,
        t(s, d, "documents").filter(F.col("source").isNotNull), Cfg.of(
          "column" -> "text", "tokenize" -> true, "k" -> 5,
          "capacity" -> 200000, "group_by" -> "source")))
    },

    // ---- topk.approx on a plain (non-tokenized) low-cardinality column:
    // trivially exact, pins the scalar path + tie-breaking
    QueryDef("topk_sources",
      """WITH cnt AS (SELECT source AS term, CAST(count(*) AS BIGINT) AS count
        |  FROM documents WHERE source IS NOT NULL GROUP BY source),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE source IS NOT NULL)
        |SELECT term, count, CAST(count + (SELECT n // 1000 FROM tot) AS BIGINT) AS count_max
        |FROM cnt ORDER BY count DESC, term LIMIT 10""".stripMargin) { (s, d) =>
      TopKOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "column" -> "source", "k" -> 10, "capacity" -> 1000)))
    },

    // ---- decontaminate.ngram with the broadcast-Bloom prefilter: Bloom
    // has no false negatives and the exact semi-join still runs on the
    // survivors, so the oracle is the SAME full rule as the
    // decontaminate_ngram gate — bit-identical results, smaller shuffle.
    QueryDef("decontaminate_bloom",
      """WITH toks AS (SELECT doc_id, """ + duckToks + """ AS w FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(w) < 13 THEN [array_to_string(w, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(w) - 12),
        |    i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6],
        |                        w[i+7], w[i+8], w[i+9], w[i+10], w[i+11], w[i+12]))) END AS s
        |  FROM toks),
        |bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0),
        |tg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 0),
        |m AS (SELECT tg.doc_id, count(*) AS nm FROM tg JOIN bg ON tg.g = bg.g GROUP BY 1)
        |SELECT s.doc_id, len(s.s) AS n_ngrams, COALESCE(m.nm, 0) AS n_matched_ngrams,
        |  COALESCE(m.nm, 0) >= 1 AS contaminated
        |FROM sh s LEFT JOIN m ON s.doc_id = m.doc_id
        |WHERE s.doc_id % 10 <> 0""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      DecontaminateOp(StageContext(s, Seq(
        "train" -> docs.filter(F.col("doc_id") % 10 =!= 0),
        "bench" -> docs.filter(F.col("doc_id") % 10 === 0)), Cfg.of(
        "id_column" -> "doc_id", "column" -> "text", "n" -> 13,
        "mode" -> "annotate", "bloom" -> true)))
        .select(F.col("doc_id"), F.col("n_ngrams").cast("long"),
          F.col("n_matched_ngrams"), F.col("contaminated"))
    },

    // ---- text.compressibility: Deflate output is not SQL-expressible —
    // rows-only gate; value bounds/monotonicity are pinned in
    // TextAnalysisSpec (repetitive << prose << incompressible).
    QueryDef.noOracle("text_compressibility") { (s, d) =>
      CompressibilityOp(StageContext.one(s, t(s, d, "documents"), Cfg.of(
        "column" -> "text")))
        .select("doc_id", "compression_ratio")
    }
  )
}
