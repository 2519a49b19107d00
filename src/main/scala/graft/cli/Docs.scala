package graft.cli

/** One-line self-documentation per registered function, for `graft info`
  * (the reference ships module metadata with its `info` command; here the
  * source of truth is the operators' Scaladoc - these are the per-function
  * summaries with their main config keys).
  */
object Docs {
  private val entries: Map[String, String] = Map(
    // sources
    "csv.read" -> "read CSV - path, headers, delimiter, schema",
    "json.read" -> "read JSON (records|jsonl|dataframe) - path, format, schema",
    "parquet.read" -> "read parquet - path",
    "table.read" -> "read a catalog table (name) or driver test table (dir, table)",
    "stdin.read" -> "batch-read stdin - format: json|jsonl|csv|raw",
    "inline.data" -> "rows declared inline as jsonl - jsonl, schema",
    // sinks
    "csv.write" -> "write CSV - path, single_file, mode",
    "json.write" -> "write JSON (records|jsonl|dataframe) - path, format, pretty, driver_limit",
    "parquet.write" -> "write parquet - path, partition_by, compression, max_records_per_file, single_file",
    "table.write" -> "saveAsTable, optionally bucketed - table, path, bucket_by, buckets, sort_by",
    "stdout.write" -> "print - format: table|json|jsonl|csv, limit",
    "noop.sink" -> "evaluate fully, write nothing (bench/smoke)",
    // relational
    "filter.apply" -> "row filter - column, operator (== != > >= < <= contains in), value",
    "select.apply" -> "project columns - columns",
    "map.apply" -> "derive a column - expression (micro-expr) or sql, output_column",
    "groupby.apply" -> "GROUP BY - by, aggregations[{column, operation, output_column}]",
    "groupby.cube" -> "CUBE/ROLLUP - mode, by, aggregations, grouping_id",
    "reduce.apply" -> "whole-table aggregate - column, operation, output_column",
    "sort.apply" -> "multi-key sort - by, descending, nulls_last",
    "distinct.apply" -> "dedup rows - columns, keep: first|last|none|any, order_by",
    "limit.apply" -> "top-k - n, by, descending (TakeOrderedAndProject)",
    "chunk.apply" -> "group rows into fixed-size array chunks - size, order_by",
    "json.extract" -> "extract a JSON path from a string column - column, path, output_column",
    "validate.schema" -> "assert declared schema/nullability - schema, mode",
    "profile.apply" -> "one-pass per-column profile (rows/nulls/distinct/min/max + quantiles) - columns, distinct=approx(default)|exact|none, rsd, quantiles=[0.5,...], quantiles_accuracy, quantiles_exact (exact paths opt-in: wrong default at scale)",
    "explode.apply" -> "one row per array element (generator) - column (name or SQL expr), into, outer, position_column",
    "repartition.apply" -> "partition layout - mode: hash|range|coalesce, n, by",
    "sample.apply" -> "sampling - fraction, seed | count (EXACT-k uniform — bounded TakeOrdered plan, no global sort) | by + fractions/default_fraction (stratified, any stratum cardinality) | by + counts/default_count (EXACT-k per stratum — one window rank, no driver work); all draws are DETERMINISTIC content hashes (same rows across partitionings/runs); with_replacement keeps RNG (fraction > 1 = Poisson upsampling)",
    "split.apply" -> "deterministic hash split - columns, percent, partition: train|test, salt",
    "stage.pipeline" -> "run a nested pipeline as one stage - path or inline stages",
    // multi-input
    "join.apply" -> "equi/theta join - how, on | left_on+right_on, broadcast, salt (skew)",
    "join.asof" -> "point-in-time join - by, on, strict, tolerance, right_prefix",
    "join.range" -> "interval containment join - value, lo, hi, how, bucket_width",
    "union.apply" -> "UNION ALL by name - allow_missing_columns, distinct",
    "intersect.apply" -> "INTERSECT [ALL] - all",
    "except.apply" -> "EXCEPT [ALL] - all",
    "window.rank" -> "analytic window fns - function, partition_by, order_by, output_column",
    "pivot.apply" -> "pivot wide - by, pivot, values, column, operation",
    // streaming
    "file.stream" -> "Structured Streaming file source - path, format, schema, max_files_per_trigger",
    "file.watch" -> "alias of file.stream",
    "rate.stream" -> "load-generator stream - rows_per_second",
    "stdin.stream" -> "stdin as a stream - format: text|jsonl|csv, schema",
    "stream.write" -> "writeStream sink - format: console|memory|parquet|csv|json, output_mode, trigger_ms, timeout_ms",
    "stdout_stream.write" -> "alias of stream.write",
    "window.apply" -> "count-based windows - type: tumbling|sliding|session, size, slide, gap, order_by, group_by (streaming: per-key tws state; empty group_by = one implicit key, order_by sorts each micro-batch)",
    "window.time" -> "event-time tumbling/sliding - ts_column, size, slide, watermark, group_by, aggregations",
    "window.session" -> "event-time session windows - ts_column, gap, group_by, aggregations",
    "aggregate.stream" -> "per-window aggregate - operation, value_column, group_by",
    "aggregate.stateful" -> "running per-key aggregate - key_column, value_column, operation; engine=mgws|tws (tws = Spark 4 transformWithState, supports state_ttl)",
    "dedup.stream" -> "streaming dedup - columns, watermark_column, delay (bounded state)",
    // enrichment / row-level
    "http.fetch" -> "per-row HTTP enrichment on executors - url template, concurrency (in-flight), rate_limit_per_sec (launch pacing per partition), mock",
    "ai.generate" -> "LLM enrichment - provider, model, prompt template, output_column, concurrency, rate_limit_per_sec, mock",
    "ai.embed" -> "per-row embedding generation (the vector-pipeline first step: ai.embed -> index.build -> knn/dedup) - provider=openai|openrouter|ollama, model, column, output_column (array<float>), concurrency, rate_limit_per_sec; mock=true + dim = deterministic offline unit vectors",
    "encrypt.apply" -> "encrypt columns - columns, algorithm: aes128-gcm|aes256-gcm|chacha20, key_env",
    "decrypt.apply" -> "decrypt columns (null per value on failure) - columns, algorithm, key_env",
    // training-data
    "dedup.exact" -> "exact dedup - columns, keep, order_by; index_path = drop rows already in a persisted exact index (index_append=true grows it on pipeline success)",
    "dedup.minhash" -> "near-dedup, word-shingle MinHash LSH - id_column, text_column, threshold, bands, num_hashes; transitive=true for connected-component collapse; keep_by=col keeps the best-value duplicate (all four families); index_path = dedup a new batch against a persisted minhash index (index_append=true grows it on pipeline success)",
    "dedup.ngram" -> "near-dedup, char n-gram Jaccard - id_column, text_column, threshold, ngram_size; index_path = dedup a new batch against a persisted ngram index (index_append=true grows it)",
    "dedup.substrings" -> "exact substring dedup (Lee et al. 2022 ExactSubstr): remove all but the first occurrence of any min_tokens-token verbatim repeat - column, id_column, min_tokens, stride (content-defined anchor sampling), mode=remove|annotate",
    "dedup.simhash" -> "near-dedup, 64-bit SimHash hamming - id_column, text_column, max_distance; index_path = dedup a new batch against a persisted simhash index (index_append=true grows it)",
    "dedup.embedding" -> "near-dedup, embedding cosine LSH - id_column, vector_column, threshold, num_planes; blocking=bands (bands, band_planes) = banded LSH, the corpus-scale blocking; blocking=ivf (nlist or quantizer_path to a prebuilt ivf/ivfpq index) = SemDeDup-style cluster blocking, same-cell candidates only; transitive=true for connected-component collapse; keep_by=col keeps the best-value duplicate; index_path = dedup a new batch against a persisted lsh index (index_append=true grows it on pipeline success)",
    "knn.bruteforce" -> "exact cosine top-k - query_id|query_vector, k",
    "cluster.assign" -> "tag rows with their nearest ivf/ivfpq centroid (cluster-composition reports, cluster-balanced sample.apply strata, SemDeDup-style analysis) - index_path (prebuilt index.build type=ivf|ivfpq), vector_column, output_column=cluster; same nearest-centroid rule as the index, zero shuffle",
    "knn.join" -> "batch ANN: top-k corpus neighbors for EVERY query row (two inputs: queries, corpus — or queries + index_path probing a prebuilt lsh pigeonhole/bands index (probe_hamming multi-probe), ivf index (nprobe centroid pruning) or ivfpq index (ADC candidates over the m-byte code columns at rerank*k per query, then exact re-score; rerank=0 returns approximate scores); layout auto-detected from the index meta; probe_bands=j bounds the bands layout's xbands scan to j/bands) - left_id/right_id, left_vector/right_vector, k, broadcast=queries|none; bounded per-partition heaps, shuffle = |Q|*partitions*k rows",
    "knn.lsh" -> "ANN via hyperplane-LSH block buckets - query_id, k, num_planes, blocks; index_path probes a prebuilt lsh index (partition-pruned; probe_bands=j bounds a bands-layout scan)",
    "knn.ivf" -> "ANN via IVF coarse quantizer - query_id, k, nprobe; index_path probes a prebuilt index (an ivfpq index is auto-detected: ADC scoring over the m-byte code columns, then the top rerank*k candidates rerank exactly; rerank=0 returns raw ADC scores), else nlist/seed/max_train train inline",
    "index.build" -> "persist a similarity index - path, type=ivf (cell-partitioned corpus + centroids; nlist, max_train) | ivfpq (ivf layout + m-byte product-quantization codes and exact norms beside the vectors; m, ksub<=256 — knn.ivf probes read only the code columns and rerank exactly) | lsh ((block,bucket)-partitioned tables; num_planes, blocks; blocking=bands = banded layout (bands, band_planes) partitioned (band, pband, ingest_tag) — the corpus-scale blocking composed with the incremental path, and the layout stream.ingest dedup=embedding requires) | minhash (text-dedup signature corpus for dedup.minhash index_path; id_column, text_column, shingle_size, num_hashes, bands) | ngram (char-gram signature corpus for dedup.ngram index_path; ngram_size, bands, rows_per_band) | simhash (64-bit sigs for dedup.simhash index_path) | exact (md5 content-key set for dedup.exact index_path; columns), vector_column, seed, mode=overwrite|append (ivf append = frozen-quantizer assignment to the existing centroids — never retrains)",
    "index.compact" -> "rewrite a fragmented index corpus into right-sized files (a corpus-NNNNNN generation committed by one corpus.ptr pointer write, crash-safe on every store; rows byte-identical, meta untouched; bands layout folds ingest tags to base) - path, target_file_mb=128, compact_if={mean_file_kb_below,files_above,appends_since_compact_above} (policy gate: compact only when fragmented); run quiesced (no concurrent appender/probe/recovering stream)",
    "index.stats" -> "one-row index fragmentation report (index_type, rows, files, bytes, mean_file_kb, stream_append_dirs, partition_dirs, appends_since_compact, lease_holder, lease_age_ms) - path; the read-only companion of index.compact; lease columns show a live writer holding the index (null when free)",
    "ingest.compact" -> "fold a stream.ingest OUTPUT's per-micro-batch ingest_batch partitions into one compacted region (ingest_batch=-1) - path, checkpoint, watermark, target_file_mb=128, force, compact_if={mean_file_kb_below,files_above,batch_dirs_above} (policy gate); folds only checkpoint-committed batches (replay-race-safe), crash-safe manifest swap",
    "ingest.stats" -> "one-row stream.ingest output health report (batch_dirs, committed, uncommitted, compacted, files, bytes, mean_file_kb) - path, checkpoint; the read-only companion of ingest.compact",
    "stream.ingest" -> "streaming incremental corpus ingestion (foreachBatch) - path, index_path, dedup=minhash|exact|ngram|simhash|embedding (embedding needs an index.build type=lsh blocking=bands index), checkpoint, trigger=available_now|trigger_ms, index_append, lease_stale_ms; exactly-once via per-batch idempotent output/append; ENFORCED single-writer lease per index (second query fails loud, stale leases reclaim)",
    "stream.sketch" -> "streaming corpus audits - per-micro-batch topk.approx summaries persisted under ingest_batch partitions; path, column, tokenize, capacity, group_by; merge with topk.merge",
    "text.stats" -> "length/punct/word stats - column",
    "text.langid" -> "n-gram/stopword language ID - column, output_column",
    "text.quality" -> "document quality score - column, output_column",
    "text.tokens" -> "token counts (whitespace + BPE-ish) - column",
    "text.fingerprint" -> "normalized hash + min-shingle sketch - column",
    "pack.sequences" -> "pack docs into token-budget training sequences - max_tokens, order_by, mode=chunk|greedy, token_column or text_column+tokenizer",
    "html.strip" -> "strip HTML to clean text - column, decode_entities, collapse_whitespace",
    "text.redact" -> "PII masking (email/url/ssn/credit_card/ip/phone) - column, types, mode=mask|remove, count_column",
    "text.repetition" -> "Gopher repetition metrics (dup_line_frac, dup_line_char_frac, dup_ngram_frac, top_ngram_char_frac) - column, ngram, prefix",
    "join.similar" -> "similarity join / decontamination - two inputs, or one input + index_path (right side = a prebuilt index.build type=minhash|lsh corpus, params from its meta); method=minhash|embedding (embedding blocking=pigeonhole|bands|ivf — ivf = SemDeDup-style same-cell candidates via nlist or quantizer_path), mode=pairs|semi|anti, threshold; anti drops left rows near-matching any right row",
    "zorder.apply" -> "Z-order (Morton) clustering on 2-6 columns for multi-dimensional row-group pruning - columns, bits, partitions, bucketing=width|quantile (quantile = equal-population buckets for skewed columns)",
    "mongodb.normalize" -> "MongoDB extended JSON to plain scalars ($oid/$date/$numberLong/Int/Double) - column, output_column, date_format=millis|iso",
    "mongodb.toObjectId" -> "wrap 24-hex strings as {\"$oid\": ...} - column, output_column",
    "binary.meta" -> "binary column metadata (magic, hash, size) - column",
    "image.decode" -> "decode PNG/JPEG/BMP/GIF via javax.imageio - column, resize=[w,h] adds a thumb column",
    "audio.decode" -> "parse WAV/AIFF/AU PCM via javax.sound - column; adds sample_rate/channels/frames/duration",
    "media.features" -> "feature extraction - column, feature_dim, kind=auto|image|audio|stub (image: tiny-image grayscale; audio: windowed RMS; video/unknown: labeled stub)",
    // round-3 corpus operators
    "dedup.lines" -> "remove lines repeated across >= min_docs documents - column, id_column (unique!), min_docs|min_count, count_mode=docs|rows, min_chars, delimiter",
    "url.normalize" -> "canonicalize URLs (fragment/tracking strip, scheme/www drop) - column, output_column, lowercase",
    "text.normalize" -> "unicode normalize - column, form=nfc|nfd|nfkc|nfkd, strip_accents, lowercase",
    "quality.train" -> "train a wiki-vs-crawl quality classifier (logistic regression over word counts; GPT-3/CCNet-style) - column, label_column (0/1), vocab_size, max_iter, reg_param, elastic_net, lowercase; emits (term, weight) + __intercept__ rows",
    "quality.score" -> "score docs with a (term, weight) model frame: sigmoid of the quantized word-count dot product - two inputs (docs, model); column, id_column, score_column, mode=annotate|filter, threshold, lowercase",
    "quality.gopher" -> "Gopher quality rules - column, mode=annotate|filter, min/max_words, min/max_mean_word_len, max_symbol_ratio, max_bullet_frac, max_ellipsis_frac, min_alpha_frac, min_stopwords",
    "filter.lines" -> "C4 line rules inside each doc - column, min_words, require_terminal_punct, drop_patterns",
    "quality.perplexity" -> "unigram-LM perplexity score (CCNet-style) - column, id_column, smoothing, mode=annotate|filter, max_perplexity; optional 2nd input = training corpus",
    "shuffle.apply" -> "deterministic seeded corpus shuffle - seed, columns (hash keys; full-row tiebreak)",
    "bpe.train" -> "learn BPE merges (Sennrich) - column, num_merges, top_words, sample_fraction, lowercase; emits (rank,left,right)",
    "tokenize.bpe" -> "apply BPE merges - column, merges=[\"l r\",...] or second input frame, count_column, tokens_column, max_merges",
    "decontaminate.ngram" -> "exact n-gram collision vs a benchmark table (GPT-3 13-gram / PaLM fraction) - two inputs; column, id_column, n, mode=annotate|filter|semi, min_matches|max_overlap, bloom (broadcast-Bloom prefilter, exact results), bloom_fpp",
    "topk.approx" -> "bounded-memory heavy hitters (Misra-Gries; exact when per-partition distincts fit capacity) - column, k, capacity, tokenize, output=topk|summary; emits (term, count, count_max) or a mergeable (term, count, capacity) summary",
    "topk.merge" -> "combine persisted topk.approx summaries into a global top-k (incremental corpus audits, no rescans) - N inputs; k; capacities must match",
    "text.compressibility" -> "Deflate compression-ratio quality signal (boilerplate ~0.1, prose ~0.3-0.6, junk ~1) - column, output_column, level",
    "mix.apply" -> "weighted domain mixing - N inputs; weights (expected copies per row) OR temperature=alpha + target_rows (T5/XLM-R temperature sampling: weights derived from measured source sizes, p_i ~ n_i^alpha), seed, id_column (per-row hash identity; default = row content), source_column (must not collide), sources, allow_missing_columns",
    "sample.importance" -> "DSIR importance resampling vs a target corpus - two inputs; column, id_column, max_ngram, hex_digits, smoothing, mode=annotate|topk|gumbel, k, seed",
    "chunk.text" -> "split docs into token-budget chunks with overlap (RAG prep, one row per chunk) - column, max_tokens, overlap, output_column",
    "text.sentences" -> "sentence segmentation (terminator+whitespace split, keeps terminators) - column, terminators, mode=explode|array|count",
    // kafka (file-backed log offline; brokers-only raises the jar gap)
    "kafka.consume" -> "bounded batch read with group offsets - path (log root)|brokers, topic, group_id, max_messages (0=backlog), schema, value_format=json|raw, commit, starting_offsets=committed|earliest; commit defers to pipeline success (at-least-once), explain never commits",
    "kafka.produce" -> "append records to a topic - path|brokers, topic, key_field, num_partitions, timestamp_field, retention_segments (keep newest N per partition); deterministic key routing, dense per-partition offsets",
    "kafka.compact" -> "log compaction (cleanup.policy=compact): keep highest-offset record per key per partition, offsets preserved sparse, keyless records dropped - path, topic; materialization barrier: rewrites at compose time, run in its own pipeline or before same-topic consumers",
    "kafka.stream" -> "Structured Streaming over the topic log - path, topic, schema, max_files_per_trigger; checkpoints replace group offsets")

  def describe(fn: String): String =
    entries.get(fn).getOrElse {
      if (Set("mongodb.find", "mongodb.findOne", "mongodb.aggregate")(fn))
        "Mongo query/pipeline compiled to Catalyst - path (extended-JSON dump) or input frame; query/projection/sort/limit/skip or pipeline; uri-only mode needs mongo-spark-connector"
      else if (fn.startsWith("mongodb.")) "Mongo write op compiled to Catalyst rewrites - query/update/replacement/documents/operations, order_by (for *One), upsert; collection = path dump or input frame; uri-only mode needs mongo-spark-connector"
      else if (fn == "excel.read") "read .xlsx (native OOXML, no POI) - path, sheet (name|index), has_headers"
      else if (fn == "excel.write") "write .xlsx (native OOXML, driver-side) - path, sheet, write_headers, driver_limit"
      else if (fn.startsWith("http.")) "driver-side HTTP source/sink - url, body, headers, mock_response"
      else if (fn == "js.eval") "per-row JS transform(row) - script (required), schema (DDL, skips inference), on_error fail|skip; native ECMAScript-subset interpreter, no engine jar"
      else "see Scaladoc in graft.operators/*"
    }
}
