package graft

import graft.operators.{Dedup, EventsQueries, RelationalQueries, Similarity, TaxiQueries, TextAnalysis}
import graft.oracle.OracleSql
import graft.sources.SyntheticTrips
import graft.util.FileWaves
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each key in [[queries]] is one operator/capability from SURVEY.md §2,
  * paired (where SQL-expressible) with a DuckDB oracle in [[oracleSql]].
  * Column names are aliased identically on both sides — the driver's
  * compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pickup_hotspots")(spark, "/root/testdata/sf0.001")

  private def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")

  /** Iteration-loop scope: declares the named input tables' bytes so
    * the fixed-point kernels size their ROUND-loop shuffle partitions
    * from data, not the session's core-count default
    * (graft.util.BatchScale — the StreamScale §2.2 rule; the kernels
    * scope exactly their loops, builds keep full parallelism). */
  private def iterScoped[T](s: SparkSession, dir: String,
      tables: String*)(f: => T): T =
    graft.util.BatchScale.withInputScope(s,
      tables.map(t => s"$dir/$t.parquet"))(f)

  /** Shared Q1/Q2 prefix: synthetic trip events (SURVEY.md §1.2 wire
    * schema) filtered to valid NYC trips (operators F1/F2/F3). */
  private def nycTrips(s: SparkSession, dir: String): DataFrame =
    TaxiQueries.validNycTrips(SyntheticTrips.fromEvents(s, dir))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    // Reference Q1 (ProcessTaxiStream.java:96-106): operators
    // F1-F3, M2 (geohash-6), K1/W1 (key × 10-min tumbling window),
    // A1 (COUNT), F4 (HAVING >= 2), timestamp = window end − 1 ms.
    "q1_pickup_hotspots" -> ((s, dir) =>
      TaxiQueries.q1PickupHotspots(nycTrips(s, dir))),
    // Reference Q2 (ProcessTaxiStream.java:109-136): FM1 (airport
    // classify, JFK precedence, floored minutes), K2/W2, A2
    // (SUM + AVG with count>1 guard).
    "q2_airport_durations" -> ((s, dir) =>
      TaxiQueries.q2AirportDurations(nycTrips(s, dir))),
    // K1/W1/A1/F4 on the native events fixture: per-type 1-hour
    // tumbling event-time windows with a HAVING guard.
    "q3_events_window" -> ((s, dir) =>
      EventsQueries.hourlyTypeStats(EventsQueries.events(s, dir))),
    // LLM-pipeline: exact dedup (content-hash groupBy) and
    // MinHash-LSH near-dup pairs over the documents table.
    "q4_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(documents(s, dir))),
    "q5_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDups(documents(s, dir))),
    // LLM-pipeline: per-doc text statistics / quality scoring,
    // stopword-profile language id, SimHash near-dup pairs.
    "q6_text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(documents(s, dir))),
    "q7_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(documents(s, dir))),
    "q8_simhash_dups" -> ((s, dir) =>
      TextAnalysis.simhashDups(documents(s, dir))),
    // LLM-pipeline: similarity search over embeddings — exact
    // brute-force cosine top-k baseline and the LSH-bucketed scale
    // path (random hyperplane sign bits, banded candidate join).
    "q9_ann_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(Similarity.embeddings(s, dir))),
    "q10_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Similarity.embeddings(s, dir))),
    // S2: strict JSON wire codec over the committed reference-format
    // fixture (FIXTURES.md §A) — malformed line skipped, type
    // dispatch, ISO-8601 timestamps to epoch ms.
    "q11_wire_codec" -> ((s, _) =>
      graft.io.EventCodec.trips(graft.io.EventCodec.parseEvents(
          s.read.text(TinyFixturePath).toDF("value")))
        .toDF()
        .select(col("trip_id"), col("pickup_lat"), col("pickup_lon"),
          col("dropoff_lat"), col("dropoff_lon"), col("total_amount"),
          unix_millis(col("pickup_datetime")).as("pickup_ms"),
          unix_millis(col("dropoff_datetime")).as("dropoff_ms"))),
    // Embedding-cosine near-dup (the embedding member of the dedup
    // family): LSH bucketed candidates, exact cosine cut.
    "q12_dedup_embed" -> ((s, dir) =>
      Similarity.embeddingNearDups(Similarity.embeddings(s, dir))),
    // Relational surface: broadcast dim joins, deterministic top-k,
    // session windows.
    "q13_join_nation" -> ((s, dir) =>
      RelationalQueries.ordersByNation(s, dir)),
    "q14_top_users" -> ((s, dir) =>
      RelationalQueries.topUsers(EventsQueries.events(s, dir))),
    "q15_sessions" -> ((s, dir) =>
      RelationalQueries.userSessions(EventsQueries.events(s, dir))),
    // Grouping-sets and set-operation surfaces (SURVEY.md §2.4).
    "q16_rollup" -> ((s, dir) =>
      RelationalQueries.lineitemRollup(s, dir)),
    "q17_set_ops" -> ((s, dir) =>
      RelationalQueries.setOpsCustomers(s, dir)),
    // n-gram member of the dedup family: char-8-gram MinHash-LSH.
    "q18_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramNearDups(documents(s, dir))),
    // Ranking/analytic window functions (row_number + lag).
    "q19_user_activity" -> ((s, dir) =>
      RelationalQueries.userActivity(EventsQueries.events(s, dir))),
    // IVF variant of similarity search (inverted-file cells from a
    // deterministic sampled-centroid quantizer, NProbe probing).
    "q20_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Similarity.embeddings(s, dir))),
    // Multimodal plumbing, codec-free slice (SURVEY.md §2 extension):
    // binary payloads with magic headers → mime sniff, metadata
    // projection, deterministic frame sampling — through the typed
    // Dataset operators (Multimodal.mediaFromDocs/sampleFrames).
    "q21_multimodal_meta" -> ((s, dir) =>
      operators.Multimodal.multimodalMeta(documents(s, dir))),
    // Skew mitigation: two-phase salted aggregation — phase 1 on
    // (key, deterministic salt), phase 2 combines partials per key.
    // Result is row-identical to the plain GROUP BY (the oracle runs
    // the unsalted form; float partial-sum ordering differences live
    // below the compare's %.9g canonicalization).
    "q22_skew_salted" -> ((s, dir) =>
      operators.Skew.saltedCountSum(
        EventsQueries.events(s, dir), "user_id", "value", salts = 8)),
    // Distinct aggregation + exact interpolated percentiles
    // (SURVEY.md §2.4 relational surface).
    "q23_distinct_percentiles" -> ((s, dir) =>
      RelationalQueries.typeStats(EventsQueries.events(s, dir))),
    // Token counting: whitespace vs BPE-ish regex pre-tokenization
    // (LLM-pipeline text analysis).
    "q24_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(documents(s, dir))),
    // Winnowing fingerprints (the MOSS algorithm): deterministic
    // shared-substring guarantee — the 6th dedup family member.
    "q26_dedup_winnow" -> ((s, dir) =>
      Dedup.winnowNearDups(documents(s, dir))),
    // Sliding (hopping) event-time windows — each event in 4
    // overlapping 1 h windows hopping 15 min (SURVEY.md §2.4).
    "q27_sliding_window" -> ((s, dir) =>
      EventsQueries.slidingTypeStats(EventsQueries.events(s, dir))),
    // CUBE grouping sets (rollup is q16; cube adds the per-linestatus
    // margin rollup misses).
    "q28_cube" -> ((s, dir) =>
      lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))),
    // AS-OF join: purchases attributed to the latest prior click per
    // user (single-shuffle carry-forward, no range-join explosion).
    "q29_asof_join" -> ((s, dir) =>
      RelationalQueries.asOfJoin(EventsQueries.events(s, dir))),
    // Semi/anti join operators (q17 is the set-op twin).
    "q30_semi_anti" -> ((s, dir) =>
      RelationalQueries.semiAntiCustomers(s, dir)),
    // RANGE JOIN via bucket-and-refine: clicks within 5 minutes
    // before each purchase, hash-joined on time buckets instead of
    // the cartesian a naive inequality join would plan.
    "q31_range_join" -> ((s, dir) =>
      RelationalQueries.rangeJoinNearby(EventsQueries.events(s, dir))),
    // Deterministic hash-based train/validation/test assignment
    // (row-local, engine-independent, contamination-stable).
    "q32_train_split" -> ((s, dir) =>
      operators.Sampling.trainSplit(documents(s, dir))),
    // TF-IDF top terms per document (tokenize -> tf -> df -> ln(N/df),
    // partitioned rank window).
    "q33_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(documents(s, dir))),
    // Per-language quota sampling (domain mixing) by hash order.
    "q34_quota_sample" -> ((s, dir) =>
      operators.Sampling.quotaSample(documents(s, dir), "lang")),
    // Semi-structured JSON column surface: $.k extraction + agg.
    "q35_json_props" -> ((s, dir) =>
      RelationalQueries.propsStats(EventsQueries.events(s, dir))),
    // End-to-end preprocessing funnel: exact dedup -> quality cut ->
    // language cut -> split, composed from the graded operators.
    "q36_pipeline_funnel" -> ((s, dir) =>
      operators.Pipeline.preprocessingFunnel(documents(s, dir))),
    // PIVOT (explicit value list -> no discovery pass) and UNPIVOT
    // (melt, row-local generator) surfaces.
    "q37_pivot" -> ((s, dir) =>
      RelationalQueries.docsPivot(documents(s, dir))),
    "q38_unpivot" -> ((s, dir) =>
      RelationalQueries.langScoresUnpivot(documents(s, dir))),
    // Window FRAMES (ROWS BETWEEN) + distribution functions
    // (ntile, percent_rank) — all partitioned windows.
    "q39_rolling_window" -> ((s, dir) =>
      RelationalQueries.rollingUserStats(EventsQueries.events(s, dir))),
    // Sketch aggregates (HLL++ distinct, approx percentile) graded by
    // their error BOUNDS: exact twins + within-bound booleans the
    // oracle asserts literally TRUE (raw estimates additionally
    // accuracy-pinned in RelationalQueriesSpec).
    "q40_approx_sketches" -> ((s, dir) =>
      RelationalQueries.typeStatsApproxChecked(EventsQueries.events(s, dir))),
    // Repetition/quality-rule signals (Gopher/C4-style): longest
    // token run, top-word mass, duplicate-2-gram fraction.
    "q41_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(documents(s, dir))),
    // Connected components over the minhash near-dup pairs —
    // pairwise matches -> dedup clusters with a canonical doc each
    // (iterative min-label propagation; recursive-CTE oracle).
    "q42_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(Dedup.minhashNearDups(documents(s, dir))
        .select(col("doc_a"), col("doc_b")))),
    // Incremental near-dup detection: the daily-ingest shape — only
    // pairs involving the new batch (doc_id >= 400), the old×old
    // quadrant is never re-examined.
    "q52_incremental_dedup" -> ((s, dir) =>
      Dedup.incrementalNearDups(documents(s, dir))),
    // The same cluster decisions computed by large-star/small-star
    // alternation (O(log n) rounds vs propagation's diameter bound) —
    // graded against the identical recursive-CTE oracle as q42.
    "q51_dedup_clusters_star" -> ((s, dir) =>
      Dedup.dedupClustersStar(Dedup.minhashNearDups(documents(s, dir))
        .select(col("doc_a"), col("doc_b")))),
    // Benchmark contamination: per-doc n-gram overlap against the
    // (broadcast) benchmark gram set — the decontamination step.
    "q43_contamination" -> ((s, dir) =>
      Dedup.benchmarkContamination(documents(s, dir))),
    // EXACT 13-gram decontamination (the published GPT-3 appendix-C
    // rule): one shared 13-token gram flags; no sampling, no
    // threshold — the exactness corner the winnow screen can't state.
    "q233_exact_decontam" -> ((s, dir) =>
      Dedup.exactNgramDecontam(documents(s, dir))),
    // STREAMING exact decontamination (q233's on-arrival twin): the
    // benchmark gram set is static/broadcast; training docs arrive
    // as three waves and each micro-batch runs the per-document
    // screen — stateless, so the streamed union IS the batch answer
    // and the q233 oracle grades it unchanged.
    "q237_stream_decontam" -> ((s, dir) => {
      val all = documents(s, dir)
      val bench = Dedup.benchGramSet(all)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bench.count()
      val docs = all.filter(col("doc_id") >= 20L)
        .select(col("doc_id"), col("text"))
      val wh = graft.util.TempDirs.create("graft-decontam-q237")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("doc_id"), 0L, maxId).map(docs.filter(_)))
      val outDir = s"$wh/out"
      val stream = FileWaves.read(s, docs.schema, s"$wh/in")
      // batch-id-named subdirectories make the sink idempotent: a
      // retried micro-batch OVERWRITES its own directory instead of
      // appending duplicate rows (the others use memory tables or
      // the idempotent mergeApplyTable; this is the file-sink twin)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Dedup.exactDecontamScreen(batch, bench)
            .write.mode("overwrite").parquet(f"$outDir/b$batchId%05d")
        }
        .option("checkpointLocation", s"$wh/cp").start()
      try q.processAllAvailable() finally q.stop()
      bench.unpersist()
      // enumerate the batch directories explicitly (no glob): the
      // committed batches are exactly the b* children, and a literal
      // path list sidesteps glob-vs-sink-metadata resolution races
      val batchDirs = new java.io.File(outDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("b"))
        .map(_.getPath).sorted
      s.read.parquet(batchDirs: _*)
    }),
    // Memorization-risk profile: distinct 13-gram counts by
    // duplication bucket — the corpus-health report before dedup.
    "q235_dup_histogram" -> ((s, dir) =>
      Dedup.gramDupHistogram(documents(s, dir))),
    // ... and its drill-down: the most-duplicated gram digests.
    "q236_top_dup_grams" -> ((s, dir) =>
      Dedup.topDuplicatedGrams(documents(s, dir))),
    // The custom whole-operator surface (LogicalPlan + SparkStrategy
    // + SparkPlan via GraftExtensions): top-k per group as partial
    // bounded heaps -> exchange of survivors only -> final rank,
    // replacing the window plan that shuffles and sorts every row.
    "q50_topk_operator" -> ((s, dir) => {
      val e = EventsQueries.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      org.apache.spark.sql.graft.TopK.perGroup(e, Seq("event_type"),
        Seq("value" -> false, "event_id" -> true), 3)
    }),
    // Fixed-window document chunking with overlap (context-window
    // prep): row-local integer arithmetic + explode, no shuffle.
    "q48_chunk_docs" -> ((s, dir) =>
      TextAnalysis.chunkDocs(documents(s, dir))),
    // Mixture resampling: downsample-only domain mixing to target
    // language proportions (keeps the most-underrepresented language
    // whole; hash-deterministic keep set).
    "q49_mixture_resample" -> ((s, dir) =>
      operators.Sampling.mixtureResample(documents(s, dir))),
    // Sequence packing: documents laid end-to-end per (split, shard)
    // and cut into fixed-token-budget training packs — the
    // concat-then-chunk batch-prep step, sharded so the prefix-sum
    // window never funnels into one partition.
    "q46_pack_sequences" -> ((s, dir) =>
      operators.Sampling.packSequences(documents(s, dir))),
    // Unigram-LM perplexity scoring (CCNet-style quality gate):
    // per-doc average NLL under the corpus's own unigram
    // distribution.
    "q47_perplexity" -> ((s, dir) =>
      TextAnalysis.unigramNll(documents(s, dir))),
    // Multi-probe LSH top-k (probe-1): the query-side recall knob —
    // each query band also probes the Hamming-1 neighborhood of its
    // key; corpus-side index layout identical to q10.
    "q45_ann_multiprobe" -> ((s, dir) =>
      Similarity.lshTopK(Similarity.embeddings(s, dir), multiProbe = 1)),
    // PII scrubbing (count + redact emails/phones) graded over the
    // deterministic synthetic-PII corpus — the fixture text carries
    // no PII by construction, so both engines inject it identically
    // from doc_id arithmetic first.
    "q44_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(TextAnalysis.withSyntheticPii(
        documents(s, dir)))),
    // REAL media decode, graded sample-exactly: synthesize a genuine
    // RIFF/PCM WAV (q54) / binary PPM (q55) per document from doc_id
    // arithmetic, decode it back with the pure-JVM parsers, and let
    // the oracle recompute the expected facts from the same
    // arithmetic — green rows prove the decoders invert the formats.
    "q54_wav_decode" -> ((s, dir) =>
      operators.Multimodal.wavDecodeStats(documents(s, dir))),
    "q55_ppm_decode" -> ((s, dir) =>
      operators.Multimodal.ppmDecodeStats(documents(s, dir))),
    // PNG: zlib IDAT + CRC'd chunks + all five scanline filters,
    // decoded back byte-exactly (the lossless-image member of the
    // codec family).
    "q67_png_decode" -> ((s, dir) =>
      operators.Multimodal.pngDecodeStats(documents(s, dir))),
    // JPEG through the JDK's real codec — lossy, so graded by exact
    // dims + bounded-error booleans (the q40 pattern).
    "q68_jpeg_decode" -> ((s, dir) =>
      operators.Multimodal.jpegDecodeStats(documents(s, dir))),
    // MP4 at the box level: real ISO-BMFF structure (ftyp/moov/mvhd/
    // trak/mdat, 64-bit sizes) written and walked back; sample decode
    // stays honestly stubbed (no JDK video codec).
    "q69_mp4_meta" -> ((s, dir) =>
      operators.Multimodal.mp4MetaStats(documents(s, dir))),
    // MP4 frame EXTRACTION: real stsd/stsz/stsc/stco sample-table
    // resolution over an uncompressed 'raw ' RGB24 track (frames
    // split across two chunks); only entropy decode stays out of
    // scope. first_byte_sum grades frame boundaries exactly.
    "q81_mp4_frames" -> ((s, dir) =>
      operators.Multimodal.mp4FrameStats(documents(s, dir))),
    // MJPEG: the COMPRESSED video-track decode q81 left out — real
    // sample-table extraction of a 'jpeg' track, then entropy decode
    // of every frame through the JDK JPEG codec (the q68 precedent),
    // graded per-frame with bounded-error channel means.
    "q182_mjpeg_decode" -> ((s, dir) =>
      operators.Multimodal.mjpegDecodeStats(documents(s, dir))),
    // Intra-only H.264: real Annex-B SPS+PPS+IDR streams decoded
    // through our own NAL/Exp-Golomb/CAVLC/transform/intra-pred
    // pipeline (no JDK codec exists for avc1 — the q182 close-out),
    // graded with the q68 bounded-error pattern.
    "q228_h264_intra_decode" -> ((s, dir) =>
      operators.Multimodal.h264DecodeStats(documents(s, dir))),
    // avc1-BOXED intra H.264: real avcC config record + length-
    // prefixed samples inside the real ISO-BMFF sample tables,
    // extracted, reassembled to Annex-B and decoded in-repo.
    "q229_avc1_track_decode" -> ((s, dir) =>
      operators.Multimodal.avc1DecodeStats(documents(s, dir))),
    // IMA-ADPCM 4:1 audio round trip: the published adaptive-delta
    // codec over deterministic triangle waves, exact stream
    // arithmetic + bounded post-attack error.
    "q305_adpcm_roundtrip" -> ((s, dir) =>
      operators.Multimodal.adpcmRoundTripStats(documents(s, dir))),
    // Cross-source duplicate-flow matrix: the q5 pair set
    // source-attributed per unordered source pair — the "who
    // mirrors whom" curation table.
    "q311_cross_source_dups" -> ((s, dir) =>
      operators.Dedup.crossSourceDups(documents(s, dir))),
    // Mojibake detection + EXACT repair (double-encoded UTF-8):
    // Latin-1 re-encode, strict UTF-8 re-decode; the repaired
    // digest must equal the clean twin's.
    "q308_mojibake_repair" -> ((s, dir) =>
      operators.Charset.mojibakeStats(documents(s, dir))),
    // Section-aware chunk packing: q323 outline sections bucketed
    // into training chunks with heading-path provenance.
    "q325_section_chunks" -> ((s, dir) =>
      operators.HtmlExtract.sectionChunks(documents(s, dir))),
    // Metadata resolution ladder: JSON-LD > og:title > <title>,
    // each rung really parsed; the chosen source graded.
    "q326_meta_resolution" -> ((s, dir) =>
      operators.HtmlExtract.metaResolution(documents(s, dir))),
    // Cross-snapshot novelty: fraction of paragraph hashes never
    // seen in earlier snapshots of the same url — additions vs
    // edits distinguished; (doc, hash)-keyed min-run rollup.
    "q324_snapshot_novelty" -> ((s, dir) =>
      operators.Warc.snapshotNovelty(documents(s, dir))),
    // Heading outline: h1>h2>h3 paths per content block via a
    // per-doc last_value ancestor window — the section-aware
    // chunking signal flat extraction discards.
    "q323_heading_outline" -> ((s, dir) =>
      operators.HtmlExtract.headingOutline(documents(s, dir))),
    // RSS 2.0 / Atom feeds: format detected from the root element,
    // entries extracted per format, RFC 822 pubDates normalized to
    // ISO through the real month-name mapping.
    "q321_feed_entries" -> ((s, dir) =>
      operators.Sitemap.feedEntries(documents(s, dir))),
    // HTTP cache/freshness planning: max-age vs the RFC 9111
    // heuristic vs validator-only, parsed from real header fields;
    // the serve/revalidate/refetch plan with conditional headers.
    "q322_http_cache_plan" -> ((s, dir) =>
      operators.Warc.httpCachePlan(documents(s, dir))),
    // JSON-LD structured data: ld+json blocks located by type
    // attribute, parsed by the engine's JSON parser; nested
    // aggregateRating fields + escaped-quote-correct name.
    "q320_jsonld_extract" -> ((s, dir) =>
      operators.HtmlExtract.jsonLdExtract(documents(s, dir))),
    // Per-paragraph language ID + code-switching verdict: the q7
    // kernel per paragraph, majority/mixed rollup per doc.
    "q318_code_switching" -> ((s, dir) =>
      operators.TextAnalysis.codeSwitchStats(documents(s, dir))),
    // Sitemap discovery: robots.txt's global Sitemap directive
    // (q269 parse) fetched and parsed by the q253 entry kernel.
    "q319_sitemap_discovery" -> ((s, dir) =>
      operators.Sitemap.sitemapDiscovery(documents(s, dir))),
    // Composed HTTP coding stack: identity / gzip / chunked /
    // chunked-wrapping-gzip mixed per doc; transfer coding peeled
    // before content coding, digest-graded against the plain text.
    "q316_http_coding_stack" -> ((s, dir) =>
      operators.Warc.httpCodingStack(documents(s, dir))),
    // WARC request/response pairing: paired .warc.gz blobs walked
    // by the q290 hops, requests parsed and joined to responses by
    // WARC-Concurrent-To, in-blob (row-local).
    "q317_warc_req_resp" -> ((s, dir) =>
      operators.Warc.warcGzPaired(documents(s, dir))),
    // Chroma-coded H.264: striped per-block-constant chroma through
    // the nC=-1 CAVLC column, 2x2 Hadamard and 8.5.8 scaling.
    "q314_h264_chroma_decode" -> ((s, dir) =>
      operators.Multimodal.h264ChromaDecodeStats(documents(s, dir))),
    // Dense-residual H.264: noise luma, every non-first block
    // decoded through the published 6-bit FLC coeff_token column,
    // deep total_zeros rows, suffix init-1, saturated-block skip.
    "q315_h264_dense_decode" -> ((s, dir) =>
      operators.Multimodal.h264DenseDecodeStats(documents(s, dir))),
    // Mid-density H.264 (r17): every non-first block decoded through
    // the 4 <= nC < 8 coeff_token column — the CAVLC table set's
    // last gap, closed with neighbor TotalCoeff sums in 8..14.
    "q327_h264_mid_decode" -> ((s, dir) =>
      operators.Multimodal.h264MidDecodeStats(documents(s, dir))),
    // Batched BPE training (the distributed-BPE scale shape): 3
    // rounds × up to 4 invariance-filtered acceptances from the
    // ranked candidate prefix — 3 pair-count jobs instead of 12.
    "q312_bpe_batched" -> ((s, dir) =>
      operators.Bpe.batchedMergeTable(s, documents(s, dir))),
    // Batched BPE apply-side: per-doc token budgets under the q312
    // merges — the q101 broadcast apply at the batched step count.
    "q313_bpe_batched_segment" -> ((s, dir) =>
      operators.Bpe.batchedTrainAndCount(documents(s, dir))),
    // WordPiece training (r17): the likelihood-scored tokenizer —
    // merges ranked by c/(u(l)*u(r)) per round, batched under
    // blanket symbol disjointness (the score-invariance condition).
    "q328_wordpiece_merges" -> ((s, dir) =>
      operators.WordPiece.mergeTable(s, documents(s, dir))),
    // WordPiece apply-side: per-doc token budgets under q328 merges.
    "q329_wordpiece_segment" -> ((s, dir) =>
      operators.WordPiece.trainAndCount(documents(s, dir))),
    // MIME/EML mail-corpus acquisition (r17): multipart boundary
    // walking, header unfolding, QP/base64 part decode, RFC 2047
    // subject words — the WARC-family discipline on the mail format.
    "q331_mime_parse" -> ((s, dir) =>
      operators.Mail.mimeParse(documents(s, dir))),
    // GIF87a (r17): the real GIF LZW (variable-width, LSB-first,
    // clear/EOI, 12-bit cap) + container walk, pixel-lossless.
    "q332_gif_decode" -> ((s, dir) =>
      operators.Multimodal.gifDecodeStats(documents(s, dir))),
    // FLAC (r17): real bit format at the stated profile — Rice-coded
    // fixed-predictor subframes, CRC-8/CRC-16, STREAMINFO MD5.
    "q333_flac_decode" -> ((s, dir) =>
      operators.Multimodal.flacDecodeStats(documents(s, dir))),
    // Unicode script census + homoglyph-confusable words (r17):
    // real codepoint-range classification over a deterministically
    // transliterated fixture; mixed Latin/Cyrillic words flagged.
    "q334_script_mix" -> ((s, dir) =>
      operators.TextAnalysis.scriptMixProfile(documents(s, dir))),
    // ZIP central-directory walk (r17): stored+deflate entries,
    // CRC-32 verified, content digest against the oracle's slices.
    "q335_zip_walk" -> ((s, dir) =>
      operators.Multimodal.zipWalkStats(documents(s, dir))),
    // POSIX ustar walk (r17): header checksums, padding arithmetic.
    "q336_tar_walk" -> ((s, dir) =>
      operators.Multimodal.tarWalkStats(documents(s, dir))),
    // Mergeable MRL quantile sketch as a Catalyst
    // TypedImperativeAggregate (r17): binary buffers cross the
    // exchange; estimates graded by rank error against the exact
    // distribution (q40 discipline for sketch outputs).
    "q337_quantile_sketch" -> ((s, dir) =>
      RelationalQueries.typeQuantileSketch(
        EventsQueries.events(s, dir))),
    // Unicode NFC census (r17): the real normalizer vs DuckDB's own
    // nfc_normalize — two independent UAX #15 implementations must
    // agree on digest, length and composed-pair count.
    "q338_nfc_normalize" -> ((s, dir) =>
      operators.TextAnalysis.nfcNormalizeStats(documents(s, dir))),
    // TFRecord + tf.train.Example (r17): the trainer-side container
    // — masked CRC-32C framing, protobuf wire walking, packed
    // int64 features.
    "q340_tfrecord_walk" -> ((s, dir) =>
      operators.Multimodal.tfrecordWalkStats(documents(s, dir))),
    // Bencode/.torrent metainfo (r17): strict canonical bencode —
    // sorted dict keys, no leading-zero integers — parsed back.
    "q341_torrent_meta" -> ((s, dir) =>
      operators.Bencode.torrentMeta(documents(s, dir))),
    // robots META + X-Robots-Tag gate (r17): page-level indexing
    // directives from BOTH channels, most-restrictive union.
    "q342_robots_meta" -> ((s, dir) =>
      operators.Robots.robotsMetaGate(documents(s, dir))),
    // STREAMING quantile sketch (q337's incremental twin, r17): the
    // SAME TypedImperativeAggregate runs as a streaming aggregation
    // in complete mode — the binary MRL buffer IS the state
    // Structured Streaming carries and merges across micro-batches;
    // the rank-error bound holds for any merge tree, so wave
    // boundaries cannot flip a boolean. Graded by the q337 oracle.
    "q339_stream_quantiles" -> ((s, dir) => {
      val ev = EventsQueries.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = graft.util.TempDirs.create("graft-sketch-q339")
      val bounds = ev.agg(min(col("event_id")).as("mn"),
        max(col("event_id")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("event_id"),
        bounds.getLong(0), bounds.getLong(1)).map(ev.filter(_)))
      val stream = FileWaves.read(s, ev.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q339_sketch")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        RelationalQueries.sketchQuantiles(stream)
          .writeStream.outputMode("complete")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q339_sketch").start()
      }
      try q.processAllAvailable() finally q.stop()
      RelationalQueries.sketchRankChecked(
        s.table("graft_q339_sketch"), ev)
    }),
    // Coded WAV containers: mu-law 0x0007 and IMA 0x0011 (per-block
    // state headers + fact chunk) through the real RIFF walker —
    // the q54 container family composed with the q305/q306 codecs.
    "q307_coded_wav" -> ((s, dir) =>
      operators.Multimodal.codedWavStats(documents(s, dir))),
    // G.711 mu-law/A-law companding: exact byte counts + canonical
    // re-encode identity + published logarithmic error bounds.
    "q306_g711_roundtrip" -> ((s, dir) =>
      operators.Multimodal.g711RoundTripStats(documents(s, dir))),
    // AC-residual H.264 (the extended CAVLC profile): ramp frames
    // whose every luma 4x4 block decodes >= 2 coefficients through
    // the general coeff_token/level/total_zeros/run_before machinery.
    "q289_h264_ac_decode" -> ((s, dir) =>
      operators.Multimodal.h264AcDecodeStats(documents(s, dir))),
    // TPC-H Q5-shaped star join: broadcast dims, three fact-side
    // hash joins, same-nation predicate inside the supplier join.
    "q70_regional_revenue" -> ((s, dir) =>
      RelationalQueries.regionalRevenue(
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/supplier.parquet"),
        s.read.parquet(s"$dir/nation.parquet"),
        s.read.parquet(s"$dir/region.parquet"))),
    // Time-based RANGE frame (fixed span, density-independent).
    "q71_trailing_hour" -> ((s, dir) =>
      EventsQueries.trailingHourStats(EventsQueries.events(s, dir))),
    // Arbitrary GROUPING SETS with grouping_id (one Expand pass).
    "q72_grouping_sets" -> ((s, dir) =>
      RelationalQueries.typeHourGroupingSets(EventsQueries.events(s, dir))),
    // Symmetric int8 embedding quantization, long form, row-local.
    "q73_quantize_int8" -> ((s, dir) =>
      operators.Similarity.quantizeInt8(
        s.read.parquet(s"$dir/embeddings.parquet"))),
    // Multi-step funnel: greedy earliest-completion chain, every
    // stage co-partitioned on user_id.
    "q74_funnel_steps" -> ((s, dir) =>
      EventsQueries.funnelSteps(EventsQueries.events(s, dir))),
    // Weighted reservoir (A-Res): global top-k by ln(u)/w through
    // the heap operator; deterministic Knuth-hash uniforms.
    "q75_weighted_reservoir" -> ((s, dir) =>
      operators.Sampling.weightedReservoir(documents(s, dir))),
    // Edit-distance-1 fuzzy vocabulary matching via deletion
    // neighborhoods (SymSpell) + exact levenshtein verify.
    "q76_fuzzy_names" -> ((s, dir) =>
      operators.Dedup.fuzzyNamePairs(
        s.read.parquet(s"$dir/part.parquet"), "p_name")),
    // Winsorization: APPLY per-type exact p05/p95 caps (broadcast
    // percentile row back onto the fact stream).
    "q77_winsorize" -> ((s, dir) =>
      operators.Profiling.winsorizedStats(EventsQueries.events(s, dir))),
    // Deterministic epoch shuffle: global permutation position via
    // range-partitioned prefix sums over the Knuth hash.
    "q78_shuffled_index" -> ((s, dir) =>
      operators.GlobalIndex.shuffledIndex(documents(s, dir))),
    // Inter-arrival gap statistics per user (lag window + same-key
    // aggregation, exact integers).
    "q66_event_gaps" -> ((s, dir) =>
      EventsQueries.interArrivalStats(EventsQueries.events(s, dir))),
    // Cohort retention matrix: signup week × weeks-since-signup
    // activity counts, all stages co-partitioned on user_id.
    "q65_cohort_retention" -> ((s, dir) =>
      EventsQueries.cohortRetention(EventsQueries.events(s, dir))),
    // CEP-style sequence detection: click followed by purchase
    // within the hour, per user — one partitioned window pass where
    // the oracle runs the naive EXISTS time-range formulation.
    "q64_event_sequence" -> ((s, dir) =>
      EventsQueries.clickToPurchase(EventsQueries.events(s, dir))),
    // Z-order (Morton) layout key — pure codegen'd bit arithmetic,
    // mirrored shift-for-shift by the oracle.
    "q63_zorder" -> ((s, dir) =>
      operators.Layout.zOrderKeys(lineitem(s, dir))),
    // Exact one-pass numeric column profiling (long format).
    "q61_profile" -> ((s, dir) =>
      operators.Profiling.numericProfile(
        s.read.parquet(s"$dir/lineitem.parquet"))),
    // The HLL-first profile graded by its error bound (q40 pattern):
    // the scale path is itself oracle-checked, not just its exact
    // sibling.
    "q79_profile_hll" -> ((s, dir) =>
      operators.Profiling.numericProfileChecked(
        s.read.parquet(s"$dir/lineitem.parquet"))),
    // Z-score normalization summary + 3-sigma outlier screen
    // (broadcast stats re-join; integral outlier counts).
    "q80_zscore_outliers" -> ((s, dir) =>
      operators.Profiling.zscoreOutliers(EventsQueries.events(s, dir))),
    // Median/MAD robust screen — the outlier-resistant sibling of
    // q80 (median and MAD have breakdown point 1/2 where one extreme
    // value already moves mean and sigma).
    "q127_mad_outliers" -> ((s, dir) =>
      operators.Profiling.madOutliers(EventsQueries.events(s, dir))),
    // Hourly resample + forward fill per user series (integer hour
    // buckets end to end).
    "q62_gap_fill" -> ((s, dir) =>
      operators.Profiling.gapFillHourly(EventsQueries.events(s, dir))),
    // Epoch-style weighted upsampling (the complement of q49's
    // downsample-only mixing): whole copies + a hash-chosen
    // fractional copy per language, entirely row-local.
    "q60_upsample" -> ((s, dir) =>
      operators.Sampling.upsampleMixture(documents(s, dir))),
    // Exact heavy hitters: Count-Min-Sketch pre-filter (row-local,
    // never undercounts) keeps the token tail out of the shuffle;
    // the exact count after it matches the oracle's full GROUP BY.
    "q59_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(documents(s, dir))),
    // Span-level duplication (sampled exact-substring dedup): how
    // much of each document's text occurs verbatim elsewhere in the
    // corpus — one rolling-hash pass + one gram-hash shuffle.
    "q58_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(documents(s, dir))),
    // Global total-order row index WITHOUT a single-reducer window:
    // range partition + per-partition offsets (the oracle's
    // row_number() is exactly the plan this operator avoids).
    "q57_global_index" -> ((s, dir) =>
      operators.GlobalIndex.docGlobalIndex(documents(s, dir))),
    // Runtime join filtering: the lineitem side passes a Bloom
    // filter of the urgent orders' keys BEFORE the join shuffle; the
    // exact join removes false positives, so the result is
    // row-identical to the oracle's plain join.
    "q56_bloom_join" -> ((s, dir) =>
      operators.RuntimeFilter.bloomJoin(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/orders.parquet"))),
    // DataSourceV2 wire-format connector: the scan itself is the
    // graded operator — type filter + amount cut pushed into the
    // source (skipped before projection), columns pruned to the
    // parser. Oracle reads the same JSONL through DuckDB.
    "q53_wire_source" -> ((s, _) =>
      s.read.format("wire-taxi").load(TinyFixturePath)
        .filter(col("type") === "trip" && col("total_amount") >= 5.0)
        .select(col("trip_id"), col("total_amount"),
          unix_millis(col("pickup_datetime")).as("pickup_ms"),
          unix_millis(col("dropoff_datetime")).as("dropoff_ms"))),
    // Kinesis PROTOCOL source: the same fixture served record-by-
    // record from an in-process ListShards/GetShardIterator/
    // GetRecords stub (the sandbox has no AWS egress) and read
    // through the kinesis-taxi DSv2 connector with the identical
    // projection as q53 — the graded claim is path parity: file
    // connector, protocol connector and the DuckDB oracle agree.
    // Materialized eagerly (15 fixture rows) so the stub server can
    // be stopped before the harness consumes the result — a grading-
    // harness collect, not a production plan shape.
    "q82_kinesis_source" -> ((s, _) => {
      val srv = new graft.sources.StubKinesisServer(shardCount = 2)
      try {
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(TinyFixturePath))
        val fixedBase = 1700000000000L // deterministic arrival stamps
        (0 until lines.size).foreach(i => srv.putRecord(lines.get(i),
          partitionKey = s"pk$i", shard = Some(i % 2),
          arrivalMs = Some(fixedBase + i)))
        val df = s.read.format("kinesis-taxi")
          .option("endpoint", srv.endpoint)
          .option("stream", srv.streamName)
          .option("accessKey", "AKIDEXAMPLE")
          .option("secretKey", "graft-not-a-real-secret")
          .load()
          .filter(col("type") === "trip" && col("total_amount") >= 5.0)
          .select(col("trip_id"), col("total_amount"),
            unix_millis(col("pickup_datetime")).as("pickup_ms"),
            unix_millis(col("dropoff_datetime")).as("dropoff_ms"))
        val rows = df.collect() // protocol scan executes here
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      } finally srv.stop()
    }),
    // BM25 top-k retrieval for a fixed bag-of-words query (sparse
    // retrieval / RAG corpus scoring): tf + doc length from ONE
    // row-local tokenize pass, query-term filter BEFORE any
    // exchange, df/N/avgdl as broadcast aggregates, global top-k
    // through the TopKPerGroup heaps.
    "q83_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopDocs(documents(s, dir))),
    // Hybrid sparse+dense retrieval fused by reciprocal rank fusion
    // (RAG two-tower shape): BM25 pool + single-query cosine pool,
    // each already ≤ poolK rows before the fusion join.
    "q84_hybrid_rrf" -> ((s, dir) =>
      Similarity.hybridRrf(documents(s, dir),
        Similarity.embeddings(s, dir))),
    // Offline retrieval eval: recall@k + reciprocal rank of the LSH
    // ranking against the brute-force ideal — O(|Q|·k) rows end to
    // end, corpus-size-independent once the rankings are bounded.
    "q85_retrieval_metrics" -> ((s, dir) => {
      val emb = Similarity.embeddings(s, dir)
      Similarity.retrievalMetrics(
        Similarity.lshTopK(emb), Similarity.bruteForceTopK(emb))
    }),
    // nDCG of the same run/ideal pair: position-weighted quality
    // where recall only sees membership.
    "q86_ndcg" -> ((s, dir) => {
      val emb = Similarity.embeddings(s, dir)
      Similarity.ndcgMetrics(
        Similarity.lshTopK(emb), Similarity.bruteForceTopK(emb))
    }),
    // Hybrid RRF with the dense pool from the PERSISTED LSH index —
    // the serving-scale plan: build once (graded here for
    // determinism), probe with the query's band keys, exact cosine
    // on candidates only; the corpus is never scanned per query.
    "q87_hybrid_rrf_indexed" -> ((s, dir) => {
      val emb = Similarity.embeddings(s, dir)
      val path = graft.util.TempDirs
        .create("graft-lsh-q87")
      Similarity.writeLshIndex(emb, "graft_lsh_idx_q87", s"$path/idx")
      Similarity.hybridRrfIndexed(documents(s, dir), emb,
        "graft_lsh_idx_q87")
    }),
    // The persisted LSH index itself, graded end to end: build the
    // bucketed (vec_id, band, key) table, then probe it — must
    // hash-match the per-batch LSH ranking oracle (q10's family).
    "q88_lsh_index_probe" -> ((s, dir) => {
      val emb = Similarity.embeddings(s, dir)
      val path = graft.util.TempDirs
        .create("graft-lsh-q88")
      Similarity.writeLshIndex(emb, "graft_lsh_idx_q88", s"$path/idx")
      Similarity.probeLshIndex(emb, "graft_lsh_idx_q88")
    }),
    // Multi-query BM25 (the RAG-batch shape): a query TABLE joined
    // to the vocabulary-filtered tf frame by BROADCAST on term —
    // the (doc, term) stream never shuffles to meet the queries —
    // then per-query top-k through the TopKPerGroup heaps.
    "q89_bm25_multi" -> ((s, dir) =>
      TextAnalysis.bm25TopDocsMulti(documents(s, dir))),
    // Leakage-safe split: q32's hash assignment decided on the q42
    // near-dup cluster representative, so no near-dup cluster ever
    // straddles the train/test boundary.
    "q90_leakage_safe_split" -> ((s, dir) =>
      operators.Sampling.leakageSafeSplit(documents(s, dir))),
    // DSIR-style importance selection: smoothed hashed-bigram
    // log-likelihood ratio of a target domain vs the corpus, global
    // top-k through the heaps.
    "q91_importance_weights" -> ((s, dir) =>
      operators.Sampling.importanceWeights(documents(s, dir))),
    // The STREAMING-MAINTAINED LSH index graded end to end: the
    // corpus arrives as three parquet files through a file stream
    // (maxFilesPerTrigger=1 -> one micro-batch per arrival wave),
    // StreamingLshIndex appends each batch's banded rows to the
    // bucketed table, and the probe of the maintained table must
    // hash-match the q10-family oracle — the daily-ingest serving
    // path itself through the driver's gate, not just spec-pinned.
    "q92_lsh_index_stream" -> ((s, dir) => {
      val emb = Similarity.embeddings(s, dir)
      val wh = graft.util.TempDirs
        .create("graft-lsh-q92")
      // three deterministic arrival waves, one file each
      FileWaves.write(s"$wh/in",
        (0 until 3).map(w => emb.filter(col("vec_id") % 3 === w)))
      val stream = FileWaves.read(s, emb.schema, s"$wh/in")
      s.sql("DROP TABLE IF EXISTS graft_lsh_idx_q92")
      val q = streaming.StreamingLshIndex.maintain(stream,
        "graft_lsh_idx_q92", s"$wh/idx", checkpoint = s"$wh/cp")
      try q.processAllAvailable() finally q.stop()
      Similarity.probeLshIndex(emb, "graft_lsh_idx_q92")
    }),
    // SemDedup: IVF-cell clustering of the embedding space, then
    // near-dup pairs WITHIN each cell only; keep the lowest vec_id
    // of every duplicate relation.
    "q93_semdedup" -> ((s, dir) =>
      Similarity.semDedup(Similarity.embeddings(s, dir))),
    // Gopher/C4-style quality-filter funnel: row-local rule battery,
    // first failing rule in fixed precedence as the reject reason.
    "q94_quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(documents(s, dir))),
    // Cross-source overlap matrix: one union-MinHash signature per
    // source, S^2 comparison on S*H rows — the corpus-level overlap
    // profile that decides what to dedup against what.
    "q95_source_overlap" -> ((s, dir) =>
      operators.Dedup.sourceSimilarity(documents(s, dir))),
    // Matryoshka two-stage retrieval: coarse rank on the truncated
    // dimension prefix, exact full-dim re-rank of the bounded pool.
    "q96_mrl_rerank" -> ((s, dir) =>
      Similarity.mrlRerankTopK(Similarity.embeddings(s, dir))),
    // CCNet-style perplexity filter: cross-entropy under a bigram LM
    // trained on the target domain, LM tables broadcast.
    "q97_target_lm_score" -> ((s, dir) =>
      TextAnalysis.targetLmScore(documents(s, dir))),
    // Containment dedup: the asymmetric subset-duplication detector —
    // bounded-bucket candidates on the shingle inverted index, exact
    // |A∩B|/min(|A|,|B|) verify on the full hash sets.
    "q98_containment" -> ((s, dir) =>
      operators.Dedup.containmentPairs(documents(s, dir))),
    // PageRank over the symmetric customer↔supplier co-purchase
    // graph: 3 synchronous iterations, edge frame shuffled once and
    // reused; the crawl-centrality quality-weighting operator.
    "q99_pagerank" -> ((s, dir) =>
      operators.Graph.pageRank(lineitem(s, dir),
        s.read.parquet(s"$dir/orders.parquet"))),
    // BPE merge training: 8 most-frequent-adjacent-pair fusions over
    // the vocabulary-compressed corpus — per step one vocab-sized
    // count, a one-row argmax, a row-local merge fold.
    "q100_bpe_merges" -> ((s, dir) =>
      operators.Bpe.mergeTable(s, documents(s, dir))),
    // BPE apply-side: per-doc token budget under the trained merges —
    // folds run once over the vocab, corpus broadcast-joins word ->
    // token count.
    "q101_bpe_segment" -> ((s, dir) =>
      operators.Bpe.trainAndCount(documents(s, dir))),
    // Duplicated-span removal: the exact-substring dedup ACTION —
    // cross-doc duplicated spans keep their min-doc copy, everyone
    // else's occurrences are interval-merged and cut from the text.
    "q102_span_removal" -> ((s, dir) =>
      operators.Dedup.removeDuplicatedSpans(documents(s, dir))),
    // The STREAMING preprocessing funnel graded end to end (q92
    // precedent): the corpus arrives as three ascending doc_id-range
    // parquet waves through a file stream (ordered replay = the
    // streaming dedup's first-arrival-wins state matches the batch
    // min-id canonical), the row-local gates + stateful exact-dedup
    // and the near-dup pair stream run as two real streaming queries,
    // and the checkpoint finalize must hash-match the BATCH funnel's
    // oracle row (q36's SQL, verbatim).
    "q105_stream_funnel" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val wh = graft.util.TempDirs
        .create("graft-funnel-q105")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      // arrival order IS the parity contract (FileWaves pins it)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("doc_id"), 0L, maxId).map(docs.filter(_)))
      val stream = FileWaves.read(s, docs.schema, s"$wh/in")
      Seq("graft_q105_flags", "graft_q105_pairs")
        .foreach(s.catalog.dropTempView(_))
      val (qf, qp) = graft.util.StreamScale
        .withStatePartitions(s, s"$wh/in") {
          (streaming.StreamingFunnel.docFlags(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$wh/cpf")
            .format("memory").queryName("graft_q105_flags").start(),
          streaming.StreamingDedup.nearDupPairs(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$wh/cpp")
            .format("memory").queryName("graft_q105_pairs").start())
        }
      try { qf.processAllAvailable(); qp.processAllAvailable() }
      finally { qf.stop(); qp.stop() }
      streaming.StreamingFunnel.finalizeCounts(
        s.table("graft_q105_flags"), s.table("graft_q105_pairs"))
    }),
    // Directed PageRank as a CURATION operator: dangling-mass kernel
    // over the customer→supplier graph (every supplier a sink),
    // k=10 with reliable checkpoints every 5 iterations, host ranks
    // joined onto documents by the Knuth-hash host assignment — the
    // Common-Crawl host-centrality quality weight.
    "q104_host_quality" -> ((s, dir) => {
      val cp = graft.util.TempDirs
        .create("graft-pr-q104")
      // iteration-loop shuffle partitions derived from the graph
      // inputs' bytes, not the core count (BatchScale — the
      // StreamScale rule applied to the batch fixed-point kernels)
      iterScoped(s, dir, "lineitem", "orders") {
        operators.Graph.hostQualityWeights(documents(s, dir),
          lineitem(s, dir), s.read.parquet(s"$dir/orders.parquet"),
          checkpointDir = Some(cp))
      }
    }),
    // The DISTRIBUTED k-means codebook graded directly: corpus→cell
    // assignment under centroids trained with zero driver-side
    // sample collect (per-cell sums fold on executors; k rows to the
    // driver per iteration) — bit-identical to the driver Lloyd twin
    // the unrolled-CTE oracle replays.
    "q103_ivf_cells" -> ((s, dir) =>
      Similarity.ivfCorpusCells(Similarity.embeddings(s, dir))
        .select(col("vec_id"), col("cell").cast("long").as("cell"))),
    // IVF-PQ: per-subspace L2 codebooks (distributed trainer), corpus
    // compressed to 4 codes + approx norm, asymmetric-distance
    // scoring of the compressed frame, exact re-rank of the pool.
    "q106_ann_pq" -> ((s, dir) =>
      Similarity.pqTopK(Similarity.embeddings(s, dir))),
    // Model-based quality filter: multinomial Naive Bayes trained on
    // labeled curated-vs-reject sources, broadcast model table, every
    // document scored; the fastText-style classifier gate.
    "q107_nb_quality" -> ((s, dir) =>
      TextAnalysis.nbQualityFilter(documents(s, dir))),
    // Cluster-balanced subsampling: k-means cells (the q103 codebook)
    // capped at a per-cell quota by Knuth-hash order — topic
    // balancing through the TopKPerGroup heaps.
    "q108_cluster_balance" -> ((s, dir) =>
      Similarity.cellBalancedSample(Similarity.embeddings(s, dir))),
    // Quality-aware canonical selection: per near-dup cluster, retain
    // the funnel-passing longest copy instead of the min-id default.
    "q109_quality_canonical" -> ((s, dir) =>
      operators.Dedup.qualityCanonical(documents(s, dir))),
    // Temperature-scaled source mixing: w_s ∝ p_s^0.7, hash-
    // downsampled toward budget·w_s survivors per source, rate ≤ 1.
    "q110_temperature_mix" -> ((s, dir) =>
      operators.Sampling.temperatureMix(documents(s, dir))),
    // Interpolated Kneser-Ney bigram LM self-scoring: continuation-
    // count smoothing (the KenLM/CCNet form), per-doc bigram counts
    // row-local, LM tables broadcast/co-partitioned.
    "q111_kn_bigram" -> ((s, dir) =>
      TextAnalysis.knBigramNll(documents(s, dir))),
    // k-NN graph over the embedding corpus: LSH-banded candidates,
    // exact cosine, top-k per node through the TopKPerGroup heaps —
    // the substrate of graph-based curation.
    "q112_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(Similarity.embeddings(s, dir))),
    // C4-style blocklist screen: one codegen'd Aho-Corasick pass per
    // document over the constant phrase list — zero shuffle.
    "q113_blocklist" -> ((s, dir) =>
      TextAnalysis.blocklistScreen(documents(s, dir))),
    // One-permutation minhash: 1/16 the signature arithmetic of q5
    // (one multiply-add per shingle), rotation-densified, same
    // banding + exact-Jaccard verify.
    "q114_oph_minhash" -> ((s, dir) =>
      operators.Dedup.ophNearDups(documents(s, dir))),
    // PCA whitening: sample-trained principal axes (executor-side
    // ordered moment folds, Dim^2-bounded driver eigen-solve),
    // row-local whitened projection of the whole corpus.
    "q115_pca_whiten" -> ((s, dir) =>
      Similarity.pcaWhiten(Similarity.embeddings(s, dir))),
    // ICWS weighted minhash: tf-weighted Jaccard dedup — banding
    // over consistent weighted samples, exact integer Σmin/Σmax
    // verify; catches boilerplate-dominated near-dups q5's
    // distinct-set semantics under-weighs.
    "q116_weighted_minhash" -> ((s, dir) =>
      operators.Dedup.weightedMinhashNearDups(documents(s, dir))),
    // Incremental k-NN graph: three ascending-mtime embedding waves
    // maintain the bucketed index AND emit each wave's as-of top-k
    // edges (candidates = everything ingested so far) — the online
    // twin of q112 through the driver's gate.
    "q123_knn_stream" -> ((s, dir) => {
      val emb = Similarity.embeddings(s, dir)
      val wh = graft.util.TempDirs
        .create("graft-knn-q123")
      FileWaves.write(s"$wh/in",
        (0 until 3).map(w => emb.filter(col("vec_id") % 3 === w)))
      val stream = FileWaves.read(s, emb.schema, s"$wh/in")
      s.sql("DROP TABLE IF EXISTS graft_knn_idx_q123")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingKnnGraph.maintain(stream,
          "graft_knn_idx_q123", s"$wh/idx", s"$wh/edges", emb,
          checkpoint = s"$wh/cp")
      }
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$wh/edges")
        .select(col("src"), col("neighbor_id"), col("rank"),
          col("cosine"))
    }),
    // Cross-source quantile normalization: per-source empirical-CDF
    // score calibration before the global keep cut.
    "q122_quantile_norm" -> ((s, dir) =>
      operators.Sampling.quantileNormalize(
        s.read.parquet(s"$dir/documents.parquet"))),
    // Per-cell clustering-quality profile: member count, inertia and
    // mean norm per k-means cell — the codebook monitoring table.
    "q125_cluster_profile" -> ((s, dir) =>
      Similarity.cellProfile(Similarity.embeddings(s, dir))),
    // Graph-walk ANN serving: greedy beam search over the q112 k-NN
    // graph — hops*beam*k edge lookups per query, corpus-size-
    // independent once the graph exists.
    "q124_graph_search" -> ((s, dir) =>
      iterScoped(s, dir, "embeddings") {
        Similarity.graphSearchTopK(Similarity.embeddings(s, dir))
      }),
    // Binary sign embeddings: 32x-compressed Hamming scan (one
    // xor+popcount per comparison), exact cosine re-rank of the pool
    // — the codebook-free end of the compression ladder.
    "q121_binary_hamming" -> ((s, dir) =>
      Similarity.binaryHammingTopK(Similarity.embeddings(s, dir))),
    // Image near-duplicate pairs (the perceptual-hash dedup member
    // of the multimodal family): per-doc variant PPM through the
    // REAL codec round trip, 64-bit dHash of the decoded pixels,
    // 4×16-bit block banding + exact popcount verify at Hamming ≤ 3
    // (lossless by pigeonhole — banded output ≡ all-pairs).
    "q126_image_near_dup" -> ((s, dir) =>
      operators.Multimodal.imageNearDups(documents(s, dir))),
    // Corpus snapshot diff (CDC between ingests): one id-keyed
    // full-outer join of row-local content digests — added / removed
    // / changed / unchanged per doc.
    "q120_snapshot_diff" -> ((s, dir) =>
      operators.Pipeline.snapshotDiffDerived(documents(s, dir))),
    // Cross-corpus alignment mining: label-parity corpora, banded
    // cross-side candidates, ratio-margin scoring (the CCMatrix/LASER
    // bitext recipe), per-x best match above the cut.
    "q119_xcorpus_mine" -> ((s, dir) => {
      val full = Similarity.embeddingsLabeled(s, dir)
      Similarity.mineAlignedPairs(
        full.filter(col("label") % 2 === 0),
        full.filter(col("label") % 2 === 1))
    }),
    // The full Gopher repetition battery: nine n-gram character-mass
    // signals + the Table-A1 keep verdict, one codegen'd kernel pass
    // per n, zero shuffle.
    "q117_rep_signals" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(documents(s, dir))),
    // The SERVE-ONLINE half of the NB quality gate graded end to end
    // (q92/q105 precedent): model trained batch-side on the labeled
    // sources, then the corpus arrives as three file-stream waves and
    // every document scores ROW-LOCALLY under the broadcast-constant
    // model — stateless append streaming, no watermark.
    "q118_stream_quality" -> ((s, dir) => {
      val all = documents(s, dir)
      val model = TextAnalysis.trainNbModel(all)
      val docs = all.select(col("doc_id"), col("text"))
      val wh = graft.util.TempDirs
        .create("graft-quality-q118")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("doc_id"), 0L, maxId).map(docs.filter(_)))
      val stream = FileWaves.read(s, docs.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q118_scores")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingQuality.nbScore(stream, model)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q118_scores").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q118_scores")
    }),
    // PMI collocation mining: corpus-level adjacent-pair association
    // (Church & Hanks), count-floored, global top-k by PMI — the
    // phrase-vocabulary builder of the curation stack.
    "q128_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(documents(s, dir))),
    // C4 line-level cleaning (Raffel et al. 2020): terminal-
    // punctuation / min-words / javascript line rules, lorem-ipsum
    // and brace page rules, min retained lines, text REBUILT from the
    // surviving lines — entirely row-local.
    "q129_c4_line_clean" -> ((s, dir) =>
      TextAnalysis.c4LineClean(documents(s, dir))),
    // Paragraph-level exact dedup with removal (the Dolma/RefinedWeb
    // recipe): first occurrence corpus-wide stays, every later copy
    // removed, doc text rebuilt from the survivors; the positioned
    // digest stream (doc_id+pos+md5, never the text) makes the one
    // hash exchange.
    "q130_paragraph_dedup" -> ((s, dir) =>
      Dedup.paragraphDedup(documents(s, dir))),
    // EXACT set-similarity join by prefix filtering (AllPairs/PPJoin
    // family): all word-set Jaccard >= tau pairs with no banding
    // recall loss and no all-pairs scan — rarity-ordered prefixes +
    // length filter bound candidates, verify join is exact.
    "q192_setsim_join" -> ((s, dir) =>
      Dedup.setSimJoin(documents(s, dir))),
    // DUPLICATE-COLLAPSED exact set-sim join: q192's Zipf-adversarial
    // guard — identical token sets collapse to one representative
    // before the prefix join, expansion is output-bounded; same
    // pairs, same numbers, so the q192 oracle grades it.
    "q226_setsim_collapsed" -> ((s, dir) =>
      Dedup.setSimJoinCollapsed(documents(s, dir))),
    // DF-CAPPED set-sim join: prefix tokens hotter than the cap
    // anchor no candidates — bounded buckets under cross-class
    // boilerplate floods; oracle mirrors the cap (inert on natural
    // corpora: cap 2.5x the observed natural max df).
    "q227_setsim_capped" -> ((s, dir) =>
      Dedup.setSimJoinCapped(documents(s, dir))),
    // STREAMING paragraph dedup (q130's twin, the removal-ACTION
    // streaming member): corpus arrives as three id-ordered file
    // waves; flatMapGroupsWithState on the paragraph digest holds the
    // one canonical (doc_id, pos) per distinct paragraph across
    // batches; text rebuilt per doc by the shared batch rebuild.
    // Same oracle as q130 — the maintained survivors must equal the
    // batch canonical table exactly.
    "q183_stream_paragraph_dedup" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val wh = graft.util.TempDirs.create("graft-para-q183")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("doc_id"), 0L, maxId).map(docs.filter(_)))
      val stream = FileWaves.read(s, docs.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q183_kept")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingDedup.paragraphFirstOccurrences(stream)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q183_kept").start()
      }
      try q.processAllAvailable() finally q.stop()
      Dedup.paragraphRebuild(Dedup.paragraphBase(docs),
        s.table("graft_q183_kept"))
    }),
    // STREAMING novelty gate (q137's twin): per-shingle-hash
    // first-occurrence claims via flatMapGroupsWithState; ascending
    // id waves make the claim table equal the batch first-occurrence
    // table exactly, and the shared batch rollup reproduces q137 —
    // graded against q137's own oracle.
    "q191_stream_novelty" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val wh = graft.util.TempDirs.create("graft-novel-q191")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("doc_id"), 0L, maxId).map(docs.filter(_)))
      val stream = FileWaves.read(s, docs.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q191_claims")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingDedup.shingleFirstOccurrences(stream)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q191_claims").start()
      }
      try q.processAllAvailable() finally q.stop()
      Dedup.noveltyRollup(Dedup.shingleHashes(docs),
        s.table("graft_q191_claims")
          .select(col("hsh"), col("first_doc")))
    }),
    // MMR diversified retrieval (Carbonell & Goldstein): greedy
    // relevance-vs-redundancy re-pick over the per-query pool —
    // everything after pool formation is pool-bounded.
    "q131_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerankTopK(Similarity.embeddings(s, dir))),
    // Triangle counts + local clustering coefficient over the mutual
    // k-NN graph: degree-ordered orientation (forward algorithm), so
    // wedge fan-out is O(m^1.5) even with hubs — the community-
    // structure profile of the embedding corpus.
    "q132_triangles" -> ((s, dir) =>
      operators.Graph.triangleCounts(Similarity.knnGraph(
        Similarity.embeddings(s, dir)))),
    // Pareto-frontier selection: every non-dominated
    // (length, quality) trade-off — computed without the O(n²)
    // dominance self-join (per-x max + running-max frontier scan).
    "q133_pareto_front" -> ((s, dir) =>
      operators.Sampling.paretoFront(documents(s, dir))),
    // SCD Type-2 dimension build: per-user attribute history as
    // validity intervals (gaps-and-islands under user-keyed windows,
    // lead() close-out on the runs frame) — warehouse table
    // maintenance from a CDC/event feed.
    "q134_scd2_dim" -> ((s, dir) =>
      operators.EventsQueries.scd2Dimension(
        operators.EventsQueries.events(s, dir))),
    // Heaps-law vocabulary growth: new word types + cumulative vocab
    // per corpus-prefix decile — first-occurrence min per token (one
    // map-side-combined shuffle), bucket ranks from the q57
    // prefix-sum index, constant-size running sums.
    "q135_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(documents(s, dir))),
    // Neyman-allocation stratified sample: budget ∝ N_h·σ_h from
    // exact-integer stratum moments, ordered-fold weight total,
    // deterministic Knuth-hash selection within strata.
    "q136_neyman_sample" -> ((s, dir) =>
      operators.Sampling.neymanSample(documents(s, dir))),
    // Corpus-order n-gram novelty: fraction of each doc's distinct
    // shingles first seen in THAT doc — one map-side-combined hash
    // shuffle, novel counts off the reduced frame.
    "q137_ngram_novelty" -> ((s, dir) =>
      Dedup.ngramNovelty(documents(s, dir))),
    // CUPED variance-reduced A/B readout: exact-cents integer
    // moments, pooled θ = cov/var, per-arm adjusted means — two
    // constant-size reductions over the user frame.
    "q138_cuped" -> ((s, dir) =>
      operators.EventsQueries.cupedLift(
        operators.EventsQueries.events(s, dir))),
    // First-order Markov transition matrix: user-partitioned lead()
    // pairing, type²-bounded aggregation, exact-long-division
    // probabilities.
    "q139_markov" -> ((s, dir) =>
      operators.EventsQueries.markovTransitions(
        operators.EventsQueries.events(s, dir))),
    // Position-weighted multi-touch attribution: touch→next-purchase
    // assignment via one forward-frame window, U-shaped credits,
    // per-touch output (no order-dependent FP aggregation).
    "q140_attribution" -> ((s, dir) =>
      operators.EventsQueries.attributionCredits(
        operators.EventsQueries.events(s, dir))),
    // k-core of the mutual k-NN graph: iterative peel (checkpointed
    // per round), surviving nodes with within-core degree.
    "q141_kcore" -> ((s, dir) =>
      iterScoped(s, dir, "embeddings") {
        operators.Graph.kCore(Similarity.knnGraph(
          Similarity.embeddings(s, dir)))
      }),
    // Synchronous label propagation over the mutual k-NN graph: the
    // majority-vote community detector (min-label tie-break, fixed
    // rounds) — splits components along sparse cuts where CC keeps
    // them whole.
    "q189_label_prop" -> ((s, dir) => iterScoped(s, dir, "embeddings") {
      val emb = Similarity.embeddings(s, dir)
      operators.Graph.labelPropagation(Similarity.knnGraph(emb),
        emb.select(col("vec_id").as("node_id")))
    }),
    // Newman modularity of the q189 partition: per-community
    // Q_c = e_c/m - (d_c/2m)^2 from exact-BIGINT aggregates — the
    // quality score a pipeline thresholds before trusting
    // cluster-level actions.
    // Personalized PageRank from the arithmetic seed cohort over the
    // SYMMETRIC co-purchase graph: restart + dangling mass return to
    // the seeds — rank measures seed proximity, and a seedless
    // component scores exactly 0 (spec-pinned).
    "q195_ppr" -> ((s, dir) => iterScoped(s, dir, "lineitem", "orders") {
      val e = operators.Graph.directedEdges(lineitem(s, dir),
        s.read.parquet(s"$dir/orders.parquet"))
      operators.Graph.personalizedPageRank(
        e.unionByName(e.select(col("dst").as("src"),
          col("src").as("dst"))))
    }),
    "q194_modularity" -> ((s, dir) => iterScoped(s, dir, "embeddings") {
      val emb = Similarity.embeddings(s, dir)
      operators.Graph.modularity(Similarity.knnGraph(emb),
        emb.select(col("vec_id").as("node_id")))
    }),
    // Top-k session paths: q15 sessionization + per-session ordered
    // path strings + map-side-combined counting; only the
    // distinct-path-bounded top-k ranks globally.
    "q142_session_paths" -> ((s, dir) =>
      operators.EventsQueries.sessionPaths(
        operators.EventsQueries.events(s, dir))),
    // Streaming SCD2 (CDC emission): events in three ascending-TIME
    // waves, per-user open row in flatMapGroupsWithState state,
    // close records emitted on attribute change — hash-matches the
    // batch q134's closed rows whatever the batch boundaries.
    "q143_stream_scd2" -> ((s, dir) => {
      val ev = operators.EventsQueries.events(s, dir)
        .select(col("user_id"), col("ts_ms"), col("event_id"),
          col("props"))
      val wh = graft.util.TempDirs
        .create("graft-scd2-q143")
      val bounds = ev.agg(min(col("ts_ms")).as("mn"),
        max(col("ts_ms")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("ts_ms"),
        bounds.getLong(0), bounds.getLong(1)).map(ev.filter(_)))
      val stream = FileWaves.read(s, ev.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q143_dim")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingScd2.dimension(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q143_dim").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q143_dim")
    }),
    // HITS hubs & authorities on the directed co-purchase graph:
    // unnormalized integer iterations — exact BIGINT scores, no
    // rounding needed in the compare.
    "q144_hits" -> ((s, dir) =>
      iterScoped(s, dir, "lineitem", "orders") {
        operators.Graph.hits(operators.Graph.directedEdges(
          lineitem(s, dir), s.read.parquet(s"$dir/orders.parquet")))
      }),
    // Two-proportion chi-square conversion test: exact integer 2x2
    // cells, fixed-order (O-E)^2/E statistic, shared critical-value
    // literal.
    "q145_chisq" -> ((s, dir) =>
      operators.EventsQueries.conversionChiSq(
        operators.EventsQueries.events(s, dir))),
    // Market-basket frequent pairs with lift: co-partitioned basket
    // self-join (bounded fan-out), broadcast item counts, exact
    // integer lift arithmetic.
    "q146_item_pairs" -> ((s, dir) =>
      RelationalQueries.frequentItemPairs(lineitem(s, dir))),
    // Hour-of-day seasonality: integer epoch-hour buckets, exact
    // cents sums, broadcast type totals — one aggregation pass.
    "q147_seasonality" -> ((s, dir) =>
      operators.EventsQueries.hourlySeasonality(
        operators.EventsQueries.events(s, dir))),
    // Degree profile + Hill tail estimate of the mutual k-NN graph:
    // one degree aggregation, |V|-bounded rank, ordered log-fold.
    "q148_degree_profile" -> ((s, dir) =>
      operators.Graph.degreeProfile(Similarity.knnGraph(
        Similarity.embeddings(s, dir)))),
    // RFM quintile segmentation: exact integer metrics, three
    // customer-frame ntile windows, the classic lifecycle code.
    "q149_rfm" -> ((s, dir) =>
      RelationalQueries.rfmSegments(
        s.read.parquet(s"$dir/orders.parquet"))),
    // CUSUM changepoint screen: closed-form prefix-min identity as
    // windows over the hourly frame — accumulates sustained small
    // shifts a z-score misses.
    "q150_cusum" -> ((s, dir) =>
      operators.EventsQueries.cusumAnomalies(
        operators.EventsQueries.events(s, dir))),
    // Classifier calibration/reliability table: labeled docs binned
    // by margin ntile, positive fraction per bin — the threshold-
    // picking step after any scored gate.
    "q151_calibration" -> ((s, dir) =>
      TextAnalysis.nbCalibration(documents(s, dir))),
    // Kaplan-Meier retention: censoring-aware survival over user
    // lifetimes — reverse-cumulative risk sets, guarded ln-prefix
    // product over the distinct-lifetime frame.
    "q152_kaplan_meier" -> ((s, dir) =>
      operators.EventsQueries.kaplanMeier(
        operators.EventsQueries.events(s, dir))),
    // Streaming Markov mining: per-user last event in state, pairs
    // emitted across batch boundaries; the aggregated pair stream
    // hash-matches the batch q139 matrix.
    "q153_stream_markov" -> ((s, dir) => {
      val ev = operators.EventsQueries.events(s, dir)
        .select(col("user_id"), col("ts_ms"), col("event_id"),
          col("event_type"))
      val wh = graft.util.TempDirs
        .create("graft-markov-q153")
      val bounds = ev.agg(min(col("ts_ms")).as("mn"),
        max(col("ts_ms")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("ts_ms"),
        bounds.getLong(0), bounds.getLong(1)).map(ev.filter(_)))
      val stream = FileWaves.read(s, ev.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q153_pairs")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingMarkov.transitions(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q153_pairs").start()
      }
      try q.processAllAvailable() finally q.stop()
      operators.EventsQueries.markovMatrixFromPairs(
        s.table("graft_q153_pairs"))
    }),
    // PSI drift monitor: equi-width integer bins, Laplace-smoothed
    // fractions, running PSI over the bin frame.
    "q154_psi_drift" -> ((s, dir) =>
      operators.Profiling.psiDrift(documents(s, dir))),
    // Token-budget greedy selection over the distributed prefix-sum
    // primitive — no single-reducer running-sum window (the oracle
    // states exactly that plan).
    "q155_budget_pack" -> ((s, dir) =>
      operators.GlobalIndex.budgetPack(documents(s, dir))),
    // Streaming CUSUM monitor: batch-trained (mu, sigma) constants,
    // per-type open-hour state, hours close data-driven — matches
    // the batch q150 rows minus each type's final open hour.
    "q156_stream_cusum" -> ((s, dir) => {
      val evAll = operators.EventsQueries.events(s, dir)
      val stats = operators.EventsQueries.cusumStats(evAll)
      val ev = evAll.select(col("ts_ms"), col("event_type"))
      val wh = graft.util.TempDirs
        .create("graft-cusum-q156")
      val bounds = ev.agg(min(col("ts_ms")).as("mn"),
        max(col("ts_ms")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("ts_ms"),
        bounds.getLong(0), bounds.getLong(1)).map(ev.filter(_)))
      val stream = FileWaves.read(s, ev.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q156_hours")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingCusum.monitor(stream, stats).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q156_hours").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q156_hours")
    }),
    // Streaming Page-Hinkley twin: sigma trained batch-side, state
    // per type carries the open hour + the PH accumulator triple;
    // graded against the batch q259 rows minus each type's open
    // final hour (the q156 closed-rows contract).
    "q260_stream_page_hinkley" -> ((s, dir) => {
      val evAll = operators.EventsQueries.events(s, dir)
      val stats = operators.EventsQueries.cusumStats(evAll)
      val ev = evAll.select(col("ts_ms"), col("event_type"))
      val wh = graft.util.TempDirs
        .create("graft-ph-q260")
      val bounds = ev.agg(min(col("ts_ms")).as("mn"),
        max(col("ts_ms")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("ts_ms"),
        bounds.getLong(0), bounds.getLong(1)).map(ev.filter(_)))
      val stream = FileWaves.read(s, ev.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q260_hours")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingPageHinkley.monitor(stream, stats)
          .toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q260_hours").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q260_hours")
    }),
    // Wald SPRT over the daily purchase share: sequential testing
    // with priced-in peeking — running LLR walk, prefix-extreme
    // decision state.
    "q157_sprt" -> ((s, dir) =>
      operators.EventsQueries.sprtDaily(
        operators.EventsQueries.events(s, dir))),
    // Deterministic subsampling-bootstrap CI for the mean: 32
    // hash-defined half-sample replicas in ONE aggregation pass,
    // exact-cents sums, ordered replica-mean band.
    "q158_bootstrap_ci" -> ((s, dir) =>
      operators.EventsQueries.bootstrapCiMean(
        operators.EventsQueries.events(s, dir))),
    // Benford first-digit audit screen: string-derived digits over
    // exact cents, chi-square GOF vs the Benford expectation.
    "q159_benford" -> ((s, dir) =>
      operators.EventsQueries.benfordScreen(
        operators.EventsQueries.events(s, dir))),
    // Hourly-volume autocorrelation: exact integer moments via the
    // expanded form (no FP deviation sums), hour-frame lag join.
    "q160_acf" -> ((s, dir) =>
      operators.EventsQueries.hourlyAcf(
        operators.EventsQueries.events(s, dir))),
    // Point-in-time (feature-store) join: union-sort carry of the
    // SCD2 attribute onto each event — graded through the closure
    // property against a no-machinery direct oracle.
    "q161_pit_join" -> ((s, dir) => {
      val ev = operators.EventsQueries.events(s, dir)
      operators.EventsQueries.pointInTimeJoin(ev,
        operators.EventsQueries.scd2Dimension(ev))
    }),
    // Leakage-free streaming feature fetch: each event enriched with
    // the PRE-event dimension state (what a model would have seen);
    // closure oracle = a plain lag window.
    "q162_stream_pit" -> ((s, dir) => {
      val ev = operators.EventsQueries.events(s, dir)
        .select(col("user_id"), col("ts_ms"), col("event_id"),
          col("props"))
      val wh = graft.util.TempDirs
        .create("graft-pit-q162")
      val bounds = ev.agg(min(col("ts_ms")).as("mn"),
        max(col("ts_ms")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("ts_ms"),
        bounds.getLong(0), bounds.getLong(1)).map(ev.filter(_)))
      val stream = FileWaves.read(s, ev.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q162_serve")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingScd2.serveFetch(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q162_serve").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q162_serve")
    }),
    // Wilson score intervals for daily conversion shares (Wald
    // alongside for comparison): exact counts, one fixed-order
    // expression per day row.
    "q163_wilson" -> ((s, dir) =>
      operators.EventsQueries.conversionWilson(
        operators.EventsQueries.events(s, dir))),
    // Mann-Whitney rank-sum A/B: doubled-rank exact-integer
    // arithmetic over the distinct-value frame, tie-corrected
    // normal approximation.
    "q164_mann_whitney" -> ((s, dir) =>
      operators.EventsQueries.mannWhitney(
        operators.EventsQueries.events(s, dir))),
    // Kolmogorov-Smirnov two-sample: integer cross-multiplied ECDF
    // gaps over the distinct-value frame — the max needs no FP.
    "q165_ks_test" -> ((s, dir) =>
      operators.EventsQueries.ksTest(
        operators.EventsQueries.events(s, dir))),
    // Gini + Lorenz deciles of purchaser revenue: exact integer
    // rank moments over the purchaser frame, decile shares and the
    // concentration coefficient.
    "q166_gini" -> ((s, dir) =>
      operators.EventsQueries.giniLorenz(
        operators.EventsQueries.events(s, dir))),
    // Cohort LTV: cumulative purchase revenue per cohort member by
    // week offset — exact cents, weeks-squared-bounded key space.
    "q167_cohort_ltv" -> ((s, dir) =>
      operators.EventsQueries.cohortLtv(
        operators.EventsQueries.events(s, dir))),
    // Daily event-mix Shannon entropy: declared type list,
    // fixed-order term addition — the mix-shift monitor.
    "q168_mix_entropy" -> ((s, dir) =>
      operators.EventsQueries.dailyMixEntropy(
        operators.EventsQueries.events(s, dir))),
    // Source-concentration profile with HHI: exact token sums,
    // ordered-fold share-squared total — the mix-dominance scalar.
    "q169_source_hhi" -> ((s, dir) =>
      TextAnalysis.sourceConcentration(documents(s, dir))),
    // Coarse-fine hierarchical cell assignment at k=64/g=8: stage 1
    // ranks the non-empty coarse groups, stage 2 is exact within the
    // picked group — the n·(g + k/g) cure for the f²-growth residual,
    // graded against the oracle's two-stage-argmin unroll.
    "q170_coarse_cells" -> ((s, dir) =>
      Similarity.ivfCorpusCellsCoarse(Similarity.embeddings(s, dir),
          numCentroids = Similarity.CoarseFineK,
          groups = Similarity.CoarseFineGroups)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))),
    // END-TO-END retrieval through the q170 coarse-fine path: corpus
    // in two-stage cells, query probe = exact NProbe fine cells ∪
    // the 2 nearest coarse groups' cells, exact-cosine re-rank.
    "q185_coarse_search" -> ((s, dir) =>
      Similarity.ivfTopKCoarse(Similarity.embeddings(s, dir),
        numCentroids = Similarity.CoarseFineK)),
    // HNSW-style LAYERED serving graph: sparse rank-stride upper
    // layer with its own kNN+spoke edges, walk there first, then
    // descend — the upper beam seeds the base walk.
    "q186_layered_search" -> ((s, dir) =>
      iterScoped(s, dir, "embeddings") {
        Similarity.layeredGraphSearchTopK(Similarity.embeddings(s, dir))
      }),
    // THREE-level layered serving: stride^2 top layer, stride middle,
    // full base — two descends; proves q186's levels compose.
    "q225_layered3_search" -> ((s, dir) =>
      iterScoped(s, dir, "embeddings") {
        Similarity.layeredGraphSearchTopK3(Similarity.embeddings(s, dir))
      }),
    // STREAM-STREAM watermarked interval join (the two-unbounded-
    // inputs join Structured Streaming exists for): clicks ⋈
    // purchases on user within the 24 h attribution horizon, state
    // horizon-bounded on both sides by the watermark; events arrive
    // as three ascending-TIME file waves, so the emitted pair set
    // equals the batch range join exactly (see the operator's parity
    // argument) — graded against the DuckDB range join.
    "q187_stream_interval_join" -> ((s, dir) => {
      val raw = s.read.parquet(s"$dir/events.parquet")
      val ev = operators.EventsQueries.withTsMs(raw)
      val wh = graft.util.TempDirs.create("graft-join-q187")
      val mm = ev.agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("ts_ms"), mm.getLong(0), mm.getLong(1))
          .map(p => ev.filter(p)
            .select(raw.columns.map(col).toIndexedSeq: _*)))
      val stream = operators.EventsQueries.withTsMs(
        FileWaves.read(s, raw.schema, s"$wh/in"))
      s.catalog.dropTempView("graft_q187_pairs")
      // state partitions sized from the wave bytes, not the core
      // count (StreamScale — the r17 stateCommit profile); the block
      // wraps ONLY start() like every other harness (a stream clones
      // the session conf at start) so the trigger loop runs with the
      // session's batch setting restored
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingIntervalJoin.clickPurchasePairs(stream)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q187_pairs").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q187_pairs")
    }),
    // LEFT OUTER stream-stream join (q187's twin): unmatched clicks
    // emit null-padded rows when the watermark passes their horizon —
    // state expiry IS the emission trigger. A sentinel flush wave
    // (far-future never-pairing user −1) drives the watermark past
    // every real click's expiry; its own rows stay unexpired, so the
    // streamed set equals the batch LEFT range join exactly.
    "q196_stream_outer_join" -> ((s, dir) => {
      val raw = s.read.parquet(s"$dir/events.parquet")
      val ev = operators.EventsQueries.withTsMs(raw)
      val wh = graft.util.TempDirs.create("graft-join-q196")
      val mm = ev.agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val flushMs = hi +
        streaming.StreamingIntervalJoin.HorizonMs + 3600000L
      import s.implicits._
      def tsFromMs(ms: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => ms * 1000000L
          case _ => timestamp_millis(ms)
        }
      val flush = Seq((-1L, flushMs + 1, -1L, "click", 0.0, ""),
          (-2L, flushMs, -1L, "purchase", 0.0, ""))
        .toDF("event_id", "ms", "user_id", "event_type", "value",
          "props")
        .select(col("event_id"), tsFromMs(col("ms")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .select(raw.columns.map(col).toIndexedSeq: _*)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("ts_ms"), lo, hi).map(p => ev.filter(p)
          .select(raw.columns.map(col).toIndexedSeq: _*)) :+ flush)
      val stream = operators.EventsQueries.withTsMs(
        FileWaves.read(s, raw.schema, s"$wh/in"))
      s.catalog.dropTempView("graft_q196_pairs")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingIntervalJoin
          .clickPurchasePairsOuter(stream)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q196_pairs").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q196_pairs").filter(col("user_id") >= 0)
    }),
    // Lakehouse MERGE / CDC-apply: the table-maintenance action
    // between the q120 diff and the next funnel pass — copy-on-write
    // per bucket, idempotent re-delivery; graded as the closure
    // merge(v1, cdc(v1→v2)) == v2.
    "q171_merge_apply" -> ((s, dir) =>
      operators.Pipeline.mergeApplyDerived(documents(s, dir))),
    // Lakehouse TIME TRAVEL: as-of reconstruction from base + ordered
    // CDC log — latest op per key <= asOf in ONE window over the
    // skinny log + one base join, cost independent of version count;
    // graded as the closure asOf(v1, log(v1→v2→v3), 2) == v3.
    "q188_time_travel" -> ((s, dir) =>
      operators.Pipeline.timeTravelDerived(documents(s, dir))),
    // Retention VACUUM: history beyond the horizon folded into a
    // version-0 checkpoint, only the newer log tail retained.
    "q215_vacuum" -> ((s, dir) =>
      operators.Pipeline.vacuumDerived(documents(s, dir))),
    // Duplicate-rate audit: full banded candidates, exact verify on
    // a deterministic 1/4 pair sample, extrapolated estimate.
    "q216_dup_audit" -> ((s, dir) =>
      Dedup.dupRateAudit(documents(s, dir))),
    // Good-Turing unseen mass + Chao1 richness floor per source:
    // does more of this source still add vocabulary?
    "q217_vocab_richness" -> ((s, dir) =>
      TextAnalysis.vocabRichness(documents(s, dir))),
    // Length-bucketed padding audit: per power-of-two bucket, exact
    // padded vs real token mass beside the pad-to-max baseline.
    "q218_length_buckets" -> ((s, dir) =>
      operators.Sampling.lengthBucketAudit(documents(s, dir))),
    // Semantic decontamination: benchmark bands broadcast against
    // the corpus band stream, exact-cosine removal list.
    "q219_sem_decontam" -> ((s, dir) =>
      Similarity.semanticContamination(Similarity.embeddings(s, dir))),
    // Pairwise source JSD over the top-V vocabulary: the
    // information-theoretic source-redundancy map.
    "q220_source_jsd" -> ((s, dir) =>
      TextAnalysis.sourceJsd(documents(s, dir))),
    // End-to-end DECONTAMINATED funnel: the q36 pipeline with the
    // decontamination stage between language and split — q43's
    // n-gram screen + q219's semantic screen + benchmark-membership
    // cut, all composed; oracle embeds the member oracles verbatim.
    "q223_decontam_funnel" -> ((s, dir) =>
      operators.Pipeline.decontaminatedFunnel(documents(s, dir),
        Similarity.embeddings(s, dir))),
    // Lakehouse SCHEMA EVOLUTION: as-of reconstruction across an
    // ADD COLUMN boundary — pre-boundary log entries can never
    // populate the added column, post-boundary upserts carry it,
    // untouched rows read the NULL add-default.
    "q224_schema_evolution" -> ((s, dir) =>
      operators.Pipeline.schemaEvolutionDerived(documents(s, dir))),
    // FILL-IN-THE-MIDDLE permutation (code-training pass): hash-
    // selected half of the corpus reordered to PSM with sentinel
    // tokens; row-local, token-multiset preserving.
    "q234_fim_transform" -> ((s, dir) =>
      operators.Pipeline.fimTransform(documents(s, dir))),
    // T5 span corruption: aligned-block masking with ordinal
    // sentinels -> (inputs, targets) denoising pairs; row-local.
    "q238_span_corrupt" -> ((s, dir) =>
      operators.Pipeline.spanCorrupt(documents(s, dir))),
    // SFT chat-template assembly: ChatML render + loss-mask token
    // accounting (loss on assistant spans only); row-local,
    // digest-audited byte for byte.
    "q303_chat_template" -> ((s, dir) =>
      operators.Pipeline.chatTemplate(documents(s, dir))),
    // DPO preference pairs: per prompt group the quality argmax /
    // argmin with distinct-pair tie-breaks; one rollup, no window.
    "q304_preference_pairs" -> ((s, dir) =>
      operators.Pipeline.preferencePairs(documents(s, dir))),
    // HTML -> text extraction over deterministically synthesized
    // markup: script/style/comment drop, block-tag newline rule,
    // inline-tag removal, entity decode — one row-local codegen'd
    // RegExpReplace chain, no shuffle.
    "q239_html_extract" -> ((s, dir) =>
      operators.HtmlExtract.htmlExtracted(documents(s, dir))),
    // ... and the extraction-headed cleaning funnel: extract ->
    // flatten -> q200 boilerplate strip -> q6 quality score. The
    // first stage of a real web pipeline, composed end to end.
    "q240_html_funnel" -> ((s, dir) =>
      operators.HtmlExtract.htmlFunnel(documents(s, dir))),
    // robots.txt gate (RFC 9309 longest-prefix semantics, Allow
    // wins ties): host rules broadcast as arrays, winner picked by
    // a row-local struct-max fold — the corpus never shuffles.
    "q249_robots_gate" -> ((s, dir) =>
      operators.Robots.robotsGate(documents(s, dir))),
    // WARC response-record parsing: version/headers/Content-Length
    // framing + the HTTP envelope, one row-local projection over
    // synthesized captures (404s planted every 13th doc).
    "q247_warc_parse" -> ((s, dir) =>
      operators.Warc.warcParsed(documents(s, dir))),
    // ... and the FULL web funnel: WARC -> keep valid 200 text/html
    // -> q239 extraction -> q6 quality, composed end to end.
    "q248_web_funnel" -> ((s, dir) =>
      operators.Warc.webFunnel(documents(s, dir))),
    // ... rolled up per capture host: the crawl-health report
    // (mean quality through the q231 exact micros sum).
    "q250_web_host_report" -> ((s, dir) =>
      operators.Warc.webHostReport(documents(s, dir))),
    // Multi-record .warc.gz framing: concatenated gzip members
    // (3 responses + a warcinfo to skip per blob), gunzipped and
    // hopped by repeated Content-Length jumps — the CommonCrawl
    // file shape the q247 scaladoc pinned but did not grade.
    "q290_warcgz_multirecord" -> ((s, dir) =>
      operators.Warc.warcGzParsed(documents(s, dir))),
    // ... and the q248 funnel fed from the gzip path: framing
    // composes, output must equal q248 row for row (same oracle).
    "q291_warcgz_funnel" -> ((s, dir) =>
      operators.Warc.webFunnelFromGz(documents(s, dir))),
    // sitemap INDEX files: the protocol's own sharding — parse the
    // <sitemapindex>, resolve each ref to its child urlset, parse
    // the children with the unchanged q253 entry kernel.
    "q300_sitemap_index" -> ((s, dir) =>
      operators.Sitemap.sitemapIndexResolved(documents(s, dir))),
    // gzip Content-Encoding bodies: real compressed payloads
    // gunzipped back to the q239 wrap text (digest-graded against
    // an independent plain reconstruction).
    "q298_warc_gzip_body" -> ((s, dir) =>
      operators.Warc.warcGzipBodies(documents(s, dir))),
    // chunked Transfer-Encoding bodies: hex size lines dechunked,
    // coded octet count exact-mirrored.
    "q299_warc_chunked_body" -> ((s, dir) =>
      operators.Warc.warcChunkedBodies(documents(s, dir))),
    // deflate (zlib) Content-Encoding bodies — the other standard
    // HTTP compression coding, inflated and digest-graded like q298.
    "q302_warc_deflate_body" -> ((s, dir) =>
      operators.Warc.warcDeflateBodies(documents(s, dir))),
    // CDX range fetch: the q251 index USED — slice each .warc file
    // blob at [offset, offset+record_len), parse the slice, and
    // demand digest equality with the index row (one byte of
    // locator error flips fetched_ok).
    "q301_cdx_range_fetch" -> ((s, dir) =>
      operators.Warc.cdxRangeFetch(documents(s, dir))),
    // Charset-aware WARC payloads: byte-level framing (octet
    // Content-Length) + the q267 sniffing composed — UTF-8 /
    // Latin-1 / UTF-16LE bodies where octet length != char length.
    "q292_warc_charset" -> ((s, dir) =>
      operators.Warc.warcIntlParsed(documents(s, dir))),
    // CDX capture index: SURT urlkey, 14-digit timestamp, and
    // FILE-LOCAL byte offsets (prefix sum partitioned by the
    // bounded warc_file band — no global sort anywhere).
    "q251_cdx_index" -> ((s, dir) =>
      operators.Warc.cdxIndex(documents(s, dir))),
    // WARC revisit records: two-run recrawl, recaptures with an
    // unchanged payload digest stored as `revisit` pointers; the
    // only window is per-URI, bounded at the recrawl depth.
    "q252_warc_revisit" -> ((s, dir) =>
      operators.Warc.warcRevisits(documents(s, dir))),
    // Sitemap (sitemaps.org 0.9) parse: one row per <url> block
    // with loc/lastmod/changefreq/priority — row-local regexp
    // split + posexplode, a sitemap never crosses an exchange.
    "q253_sitemap_parse" -> ((s, dir) =>
      operators.Sitemap.sitemapEntries(documents(s, dir))),
    // ... composed into the crawl frontier head: robots-gated,
    // URL-collapsed (best hints win), and politeness-scheduled per
    // host through the bounded TopKPerGroup heap.
    "q254_crawl_frontier" -> ((s, dir) =>
      operators.Sitemap.crawlFrontier(documents(s, dir))),
    // WebVTT cue parse: blank-line blocks, HH:MM:SS.mmm timing
    // inverted by real field arithmetic — row-local, a subtitle
    // file never crosses an exchange.
    "q255_vtt_cues" -> ((s, dir) =>
      operators.Subtitles.vttCues(documents(s, dir))),
    // ... aligned to the video frame clock: an EQUI-join on doc_id
    // with containment residual — co-partitioned video-local work,
    // gap frames kept as NULL-caption rows (counted, not dropped).
    "q256_frame_cue_align" -> ((s, dir) =>
      operators.Subtitles.frameCueAlign(documents(s, dir))),
    // Voice-activity segmentation over the q213 frame features:
    // exact-integer energy gate, hangover smoothing, gaps-and-
    // islands collapse — every window doc-partitioned and
    // audio-duration-bounded.
    "q257_vad_segments" -> ((s, dir) =>
      operators.Multimodal.vadSegments(documents(s, dir))),
    // Shot-boundary detection: exact integer inter-frame step test
    // over the decoded lossless raw-RGB track, per-shot ids — all
    // inside one typed map per video, no window at any scale.
    "q280_shot_boundaries" -> ((s, dir) =>
      operators.Multimodal.shotBoundaries(documents(s, dir))),
    // ... and the per-shot sampling policy: one middle frame per
    // shot (temporal diversity instead of fixed stride); (doc,
    // shot)-keyed rollup + a doc-local equi-join, video-local.
    "q281_shot_sampling" -> ((s, dir) =>
      operators.Multimodal.shotSampledFrames(documents(s, dir))),
    // Multimodal sequence interleaving: sentences + sampled frames
    // merged in time order with per-item token costs and a running
    // budget — per-doc windows bounded by items-per-document.
    "q282_interleave" -> ((s, dir) =>
      operators.Multimodal.interleaveMultimodal(documents(s, dir))),
    // EXIF/TIFF metadata: real Exif-in-JPEG blobs (marker walk,
    // BOTH byte orders every run, inline + offset-indirected IFD
    // values) round-tripped row-locally.
    "q258_exif_parse" -> ((s, dir) =>
      operators.Multimodal.exifStats(documents(s, dir))),
    // Hyperlink extraction: href + anchor per page (row-local
    // regexp zip), absolute/relative resolution against the page
    // host, external split.
    "q264_link_extract" -> ((s, dir) =>
      operators.WebGraph.linkExtract(documents(s, dir))),
    // ... feeding the anchor-text index: per TARGET host the top-k
    // anchor terms through the bounded TopKPerGroup heap (anchors
    // describe the target — the classic retrieval signal).
    "q265_anchor_index" -> ((s, dir) =>
      operators.WebGraph.anchorIndex(documents(s, dir))),
    // ... rolled up to the host link graph: (src, dst) edge counts
    // and per-source transition shares — the frame a host PageRank
    // consumes.
    "q266_host_graph" -> ((s, dir) =>
      operators.WebGraph.hostGraph(documents(s, dir))),
    // Character-encoding sniff (the HTML-standard order: BOM, meta
    // declaration, utf-8 default) over real synthesized bytes,
    // decoded row-locally; digest of the decoded text graded.
    "q267_charset_sniff" -> ((s, dir) =>
      operators.Charset.charsetStats(documents(s, dir))),
    // Streaming revisit twin: per-URI first-digest state, captures
    // classify response-vs-revisit on arrival; graded against the
    // full batch q252 oracle (exact parity).
    "q272_stream_revisit" -> ((s, dir) => {
      val snaps = documents(s, dir)
        .select(col("doc_id"),
          explode(array(lit(0), lit(1))).as("run"), col("text"))
        .withColumn("snap_text",
          when(col("run") > 0 && col("doc_id") % 3 === 0,
            concat(col("text"), lit(" updated v2")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("run"), col("snap_text"))
      val wh = graft.util.TempDirs.create("graft-revisit-q272")
      FileWaves.write(s"$wh/in",
        Seq(0, 1).map(w => snaps.filter(col("run") === w)))
      val stream = FileWaves.read(s, snaps.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q272_revisit")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingRevisit.detect(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q272_revisit").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q272_revisit")
    }),
    // Streaming CDX twin: per-file byte-offset state, every record
    // emits immediately; graded against the full batch q251 oracle
    // (offsets are final on arrival — exact parity).
    "q271_stream_cdx" -> ((s, dir) => {
      val recs = operators.Warc.warcRecords(documents(s, dir))
      val wh = graft.util.TempDirs.create("graft-cdx-q271")
      val bounds = recs.agg(min(col("doc_id")).as("mn"),
        max(col("doc_id")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("doc_id"),
        bounds.getLong(0), bounds.getLong(1)).map(recs.filter(_)))
      val stream = FileWaves.read(s, recs.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q271_cdx")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingCdx.index(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q271_cdx").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q271_cdx")
    }),
    // STREAMING web funnel (q248's incremental twin): every stage —
    // WARC parse, keep-gate, q239 extraction, q6 scoring — is
    // row-local, so the stream needs NO state at all: three arrival
    // waves through the identical webFunnelStages code, graded
    // against the batch q248 oracle (exact wave parity: a capture's
    // funnel row is final the moment it lands).
    "q295_stream_web_funnel" -> ((s, dir) => {
      val recs = operators.Warc.warcRecords(documents(s, dir))
      val wh = graft.util.TempDirs.create("graft-funnel-q295")
      val bounds = recs.agg(min(col("doc_id")).as("mn"),
        max(col("doc_id")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("doc_id"),
        bounds.getLong(0), bounds.getLong(1)).map(recs.filter(_)))
      val stream = FileWaves.read(s, recs.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q295_funnel")
      val q = operators.Warc.streamWebFunnel(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$wh/cp")
        .format("memory").queryName("graft_q295_funnel").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q295_funnel")
    }),
    // STREAMING coding stack (q316's incremental twin, r17): the
    // composed chunked/gzip peel is row-local, so the stream needs
    // no state — three arrival waves through the identical
    // httpCodingStack code, graded against the batch q316 oracle.
    "q330_stream_coding_stack" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val wh = graft.util.TempDirs.create("graft-coding-q330")
      val bounds = docs.agg(min(col("doc_id")).as("mn"),
        max(col("doc_id")).as("mx")).head()
      FileWaves.write(s"$wh/in", FileWaves.thirds(col("doc_id"),
        bounds.getLong(0), bounds.getLong(1)).map(docs.filter(_)))
      val stream = FileWaves.read(s, docs.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q330_coding")
      val q = operators.Warc.streamCodingStack(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$wh/cp")
        .format("memory").queryName("graft_q330_coding").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q330_coding")
    }),
    // robots.txt TEXT parser: directive lines group-attributed by
    // the last User-agent rule, comments/unknowns skipped, Sitemap
    // global — the stage that PRODUCES q249's rule tuples.
    "q269_robots_parse" -> ((s, dir) =>
      operators.Robots.robotsParse(documents(s, dir))),
    // ... and the frontier re-timed by each host's parsed
    // crawl-delay (parse -> schedule composition).
    "q270_frontier_delayed" -> ((s, dir) =>
      operators.Sitemap.crawlFrontierDelayed(documents(s, dir))),
    // Registrable-domain (eTLD+1) extraction: the PSL longest-match
    // rule over a constant suffix list — row-local, no join; the
    // correction every host-keyed operator actually needs.
    "q273_registrable_domain" -> ((s, dir) =>
      operators.UrlCanonical.registrableDomain(documents(s, dir))),
    // Dedup-family consensus: five independent detectors' pair sets
    // full-outer-joined on the pair key with agreement counts — the
    // method-agreement audit.
    "q288_dedup_consensus" -> ((s, dir) =>
      operators.Dedup.dedupConsensus(documents(s, dir))),
    // Within-document paragraph dedup: the self-repetition cut
    // (header/footer shapes) — first occurrence stays, in-doc
    // repeats drop, ordered rebuild; strictly row-local.
    "q286_withindoc_dedup" -> ((s, dir) =>
      operators.Dedup.withinDocParagraphDedup(documents(s, dir))),
    // Per-source contamination report: the unchanged q233 screen
    // joined to sources and rolled to <= |sources| rows.
    "q287_source_contamination" -> ((s, dir) =>
      operators.Dedup.sourceContamination(documents(s, dir))),
    // Chunk-based near-dup pairs: CDC digests as the blocking key
    // (rare-chunk buckets, bounded), exact chunk-set Jaccard verify
    // — the storage-informed dedup family member.
    "q277_cdc_near_dup" -> ((s, dir) =>
      operators.Dedup.cdcNearDups(documents(s, dir))),
    // Wayback-style closest-capture lookup: per-URI struct-min over
    // the capture clock, midpoint ties to the earlier capture.
    "q278_wayback_lookup" -> ((s, dir) =>
      operators.Warc.waybackLookup(documents(s, dir))),
    // Redirect-chain resolution: MaxHops equi self-joins on the URL
    // key; chains 0..3 hops plus a planted 2-cycle flagged
    // non-terminal (never a silent wrong answer).
    "q279_redirect_resolve" -> ((s, dir) =>
      operators.Redirects.resolveRedirects(documents(s, dir))),
    // RAG context assembly: q89's ranked retrieval packed into the
    // context window in rank order under the prefix-budget rule;
    // per-query windows bounded at the retrieval depth.
    "q284_rag_contexts" -> ((s, dir) =>
      TextAnalysis.ragContexts(documents(s, dir))),
    // ... and its near-dup-aware refinement: candidates that are
    // q5 near-dups of a higher-ranked candidate demote before
    // packing — the context never wastes budget on redundant
    // evidence.
    "q285_rag_dedup_contexts" -> ((s, dir) =>
      TextAnalysis.ragDedupContexts(documents(s, dir))),
    // Crawl-budget allocation across registrable domains: sqrt-pages
    // shares made to sum EXACTLY to the budget by largest-remainder
    // rounding, the +1 ranks through the bounded heap.
    "q283_crawl_budget" -> ((s, dir) =>
      operators.UrlCanonical.crawlBudgetAllocation(documents(s, dir))),
    // Adaptive recrawl scheduling: change rates from digest
    // lag-compares over an accumulated-edit recrawl, mapped to
    // next-visit intervals (the crawl-freshness policy).
    "q276_recrawl_schedule" -> ((s, dir) =>
      operators.Warc.recrawlSchedule(documents(s, dir))),
    // Corpus datasheet: the one-row dataset card (volume, exact
    // dup rate, mean quality, language mix, source HHI) — three
    // map-side-combined aggregations crossed as 1-row frames.
    "q275_corpus_datasheet" -> ((s, dir) =>
      TextAnalysis.corpusDatasheet(documents(s, dir))),
    // Sentence segmentation: boundary after [.!?]+space (replace-
    // then-split — both dialects lack a common lookbehind), over a
    // re-punctuated fixture with cycling lengths and terminators.
    "q274_sentence_segments" -> ((s, dir) =>
      TextAnalysis.sentenceSegments(documents(s, dir))),
    // Exact-phrase search: the corpus's top bigrams (through the
    // bounded heap) broadcast back into the bigram stream — phrase
    // posting lists with adjacency-exact occurrence counts.
    "q268_phrase_search" -> ((s, dir) =>
      TextAnalysis.phraseSearch(documents(s, dir))),
    // Tokenizer fertility per language: the q7 guess x q24 token
    // counts rolled to <= |langs| rows — tokens/word and
    // chars/token from exact integer sums.
    "q263_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(documents(s, dir))),
    // Content-defined chunking: Rabin-style boundary hash (cuts
    // where the rolling window hash vanishes mod 32) -> per-chunk
    // offsets + digests, one row-local projection.
    "q261_cdc_chunks" -> ((s, dir) =>
      operators.Dedup.cdcChunks(documents(s, dir))),
    // ... and the content-addressed-store savings report: chunks
    // sharing a digest collapse; one digest-keyed rollup.
    "q262_cdc_dedup" -> ((s, dir) =>
      operators.Dedup.cdcDedupStats(documents(s, dir))),
    // Page-Hinkley drift screen: the self-referenced complement of
    // q150's CUSUM (running-mean deviation, prefix-min alarm) over
    // the same type-partitioned hourly frame.
    "q259_page_hinkley" -> ((s, dir) =>
      operators.EventsQueries.pageHinkley(
        operators.EventsQueries.events(s, dir))),
    // ExactSubstr (Lee et al. 2022): maximal >=16-token substrings
    // occurring >=2 times corpus-wide, PROVEN via prefix-doubled
    // window identity (log2 k hash self-joins) — the exact rule the
    // stride-sampled q58/q102 spans approximate.
    "q241_exact_substr" -> ((s, dir) =>
      operators.ExactSubstr.exactSubstrSpans(documents(s, dir))),
    // ... and its removal action: every covered token cut (all
    // copies, the published tool's rule), row-local rebuild.
    "q242_substr_removal" -> ((s, dir) =>
      operators.ExactSubstr.exactSubstrRemoval(documents(s, dir))),
    // URL canonicalization: scheme/host case, default ports,
    // fragments, tracking params, param order, trailing slash —
    // one row-local projection over synthesized messy URLs.
    "q243_url_canonical" -> ((s, dir) =>
      operators.UrlCanonical.urlCanonical(documents(s, dir))),
    // ... feeding host-level quotas: the q34 quota operator,
    // unchanged, keyed on the canonical host.
    "q244_host_quota" -> ((s, dir) =>
      operators.UrlCanonical.hostQuota(documents(s, dir))),
    // IDN host normalization (RFC 3492 punycode): Unicode and ACE
    // spellings of one host map to one key — the ascii forms are
    // computed by the published algorithm, the oracle asserts them
    // against independent literals.
    "q297_idn_hosts" -> ((s, dir) =>
      operators.Idn.idnHosts(documents(s, dir))),
    // RFC 9309 WILDCARD robots rules: `*` runs and `$` end anchors
    // with pattern-length precedence and the Allow-wins tie — the
    // full matching rules real robots files use beyond q249's
    // prefix subset.
    "q296_robots_wildcard" -> ((s, dir) =>
      operators.Robots.robotsWildcardGate(documents(s, dir))),
    // ... and the same gate fed by PARSED rules: wildcard robots.txt
    // files through the unchanged q269 parser — must equal q296
    // row for row (same oracle).
    "q310_robots_wildcard_parsed" -> ((s, dir) =>
      operators.Robots.robotsWildcardParsedGate(documents(s, dir))),
    // Data-URI images: RFC 2397 extraction + base64 + the REAL q67
    // PNG decode — pixels_exact is a lossless byte-for-byte gate.
    "q309_data_uri_images" -> ((s, dir) =>
      operators.Multimodal.dataUriImages(documents(s, dir))),
    // Percent-encoding normalization (RFC 3986 6.2.2.2): decode
    // unreserved %XX, uppercase remaining escapes, then the q243
    // kernel — %7Euser and ~user collapse, %2F stays escaped.
    "q293_url_pct_canonical" -> ((s, dir) =>
      operators.UrlCanonical.urlPctCanonical(documents(s, dir))),
    // ... and the host-quota composition row: per host, the
    // additional collapse the pct rules buy (n_canonical = n_raw/2
    // on the paired fixture) and the q244-style kept count.
    "q294_url_pct_collapse" -> ((s, dir) =>
      operators.UrlCanonical.urlPctCollapse(documents(s, dir))),
    // STREAMING decontaminated funnel (q223's incremental twin): the
    // benchmark sides are STATIC (fingerprint set + benchmark
    // vectors, built once — the q237 broadcast discipline); three
    // ascending-id waves flow through the stateful flag/pair queries
    // (the q105 harness) while each micro-batch runs the stateless
    // ng/semantic screens in foreachBatch (batch-id-named sink dirs
    // keep retries idempotent); the finalize is the q223 rollup and
    // the gate IS q223's oracle.
    "q246_stream_decontam_funnel" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val emb = Similarity.embeddings(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      emb.count()
      val benchFps = operators.Dedup.benchFingerprintSet(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      benchFps.count()
      val wh = graft.util.TempDirs.create("graft-funnel-q246")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("doc_id"), 0L, maxId).map(docs.filter(_)))
      val stream = FileWaves.read(s, docs.schema, s"$wh/in")
      Seq("graft_q246_flags", "graft_q246_pairs")
        .foreach(s.catalog.dropTempView(_))
      val hitsDir = s"$wh/hits"
      // qf/qp are stateful (state-store commits dominate) — sized by
      // StreamScale; qh's per-batch work is a real batch join job, so
      // it keeps the session's batch partitioning
      val (qf, qp) = graft.util.StreamScale
        .withStatePartitions(s, s"$wh/in") {
          (streaming.StreamingFunnel.docFlags(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$wh/cpf")
            .format("memory").queryName("graft_q246_flags").start(),
          streaming.StreamingDedup.nearDupPairs(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$wh/cpp")
            .format("memory").queryName("graft_q246_pairs").start())
        }
      val qh = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          streaming.StreamingFunnel.decontamScreen(batch, benchFps, emb)
            .write.mode("overwrite").parquet(f"$hitsDir/b$batchId%05d")
        }
        .option("checkpointLocation", s"$wh/cph").start()
      try {
        qf.processAllAvailable(); qp.processAllAvailable()
        qh.processAllAvailable()
      } finally { qf.stop(); qp.stop(); qh.stop() }
      benchFps.unpersist(); emb.unpersist()
      val hitDirs = new java.io.File(hitsDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("b"))
        .map(_.getPath).sorted
      val hits =
        if (hitDirs.nonEmpty) s.read.parquet(hitDirs: _*)
        else s.range(0).select(col("id").as("doc_id"),
          lit(false).as("ng_hit"), lit(false).as("sem_hit"))
      streaming.StreamingFunnel.finalizeDecontam(
        s.table("graft_q246_flags"), s.table("graft_q246_pairs"), hits)
    }),
    // PARTITION-SPEC evolution (Iceberg lazy migration): v1 written
    // under spec 0 (doc_id % 4), batch 1 merged under spec 0, the
    // respec COMMIT (metadata only, zero data movement), batch 2
    // merged under spec 1 (doc_id % 8) — old-layout buckets migrate
    // exactly when touched; cold spec-0 buckets stay byte-identical
    // (PipelineSpec pins bytes+mtimes and the as-of boundary).
    "q245_partition_evolution" -> ((s, dir) => {
      import operators.Pipeline
      val docs = documents(s, dir)
      val wh = graft.util.TempDirs.create("graft-respec-q245")
      val tableDir = s"$wh/table"
      val (v1, v2, v3) = Pipeline.timeTravelVersions(docs)
      v1.withColumn("spec", lit(0))
        .withColumn("bucket", col("doc_id") % Pipeline.RespecBuckets(0))
        .write.partitionBy("spec", "bucket").parquet(tableDir)
      Pipeline.mergeApplyTableRespec(s, tableDir,
        Pipeline.cdcBetween(v1, v2), activeSpec = 0)
      // ---- the partition-spec commit: active spec 0 -> 1 ----
      Pipeline.mergeApplyTableRespec(s, tableDir,
        Pipeline.cdcBetween(v2, v3), activeSpec = 1)
      Pipeline.readRespecTable(s, tableDir)
    }),
    // Zipf rank-frequency fit: closed-form log-log least squares
    // over the top ranks — the corpus-naturalness smell test.
    "q221_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(documents(s, dir))),
    // MODEL-BASED quality filter trained IN-ENGINE: logistic
    // regression by 8 full-batch GD steps, gradients quantized to
    // exact 2^20-fixed-point longs (order-free, engine-identical);
    // corpus scored by the final margin.
    "q231_logreg_quality" -> ((s, dir) =>
      TextAnalysis.logRegQualityFilter(documents(s, dir))),
    // GRADIENT-INFLUENCE data selection: rank docs by the alignment
    // of their loss gradient with a curated reference set's mean
    // gradient (LESS/DsDm-style), top-k via the heap operator.
    "q232_gradient_influence" -> ((s, dir) =>
      TextAnalysis.gradientInfluenceTopK(documents(s, dir))),
    // STRICT-PARITY streaming paragraph dedup (q222): q183's
    // watermark-deferred sibling, graded under REVERSED ingest — the
    // corpus arrives as three DESCENDING-id file waves, exactly the
    // order where the eager first-arrival canonical diverges from the
    // batch min rule. Each digest holds its running min-(doc_id, pos)
    // until the watermark proves it final; two far-future punctuation
    // files close every digest. Same oracle as q130/q183 — the
    // deferred canonicals must equal the batch canonical table under
    // an ingest order the eager member cannot survive.
    "q222_stream_paragraph_deferred" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val wh = graft.util.TempDirs.create("graft-para-q222")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      // REVERSED: the high-id third lands first
      val waves = FileWaves.thirds(col("doc_id"), 0L, maxId).reverse
      // deterministic EVENT time (graded path: no wall clock in the
      // data); file mtimes only order the file stream's pickup
      val evBase = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
        .getTime
      val punct = Seq(
        (-1L, (1 to 8).map(i => s"zzpunct1w$i").mkString(" "),
          new java.sql.Timestamp(evBase + 3600L * 1000)),
        (-2L, (1 to 8).map(i => s"zzpunct2w$i").mkString(" "),
          new java.sql.Timestamp(evBase + 7200L * 1000)))
      import s.implicits._
      val waveFrames = waves.zipWithIndex.map { case (p, w) =>
        docs.filter(p).withColumn("ts",
          lit(new java.sql.Timestamp(evBase + w * 2000L)))
      } ++ punct.zipWithIndex.map { case (row, i) =>
        Seq(row).toDF("doc_id", "text", "ts")
          .select(col("doc_id"), col("text"), col("ts"))
      }
      FileWaves.write(s"$wh/in", waveFrames)
      val stream = FileWaves.read(s, waveFrames.head.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q222_kept")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingDedup.paragraphCanonicalDeferred(stream)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q222_kept").start()
      }
      try q.processAllAvailable() finally q.stop()
      Dedup.paragraphRebuild(Dedup.paragraphBase(docs),
        s.table("graft_q222_kept").filter(col("doc_id") >= 0))
    }),
    // Unigram-LM (SentencePiece-family) tokenizer trainer: substring
    // seed inventory, Viterbi-EM over the distinct-word vocabulary,
    // prune-to-vocab with the single-char coverage floor, refit.
    "q172_unigram_lm" -> ((s, dir) =>
      operators.Unigram.modelTable(s, documents(s, dir))),
    // Apply side: per-doc word/token counts under the trained unigram
    // model — Viterbi over distinct words joined back to the stream,
    // per-character fallback beyond the training length guard.
    "q173_unigram_segment" -> ((s, dir) =>
      operators.Unigram.segmentCounts(documents(s, dir))),
    // WordPiece-style GREEDY apply under the same trained piece
    // inventory: longest-match-first serving tokenizer (no DP) —
    // the per-doc token budget the serve-time tokenizer actually
    // produces (can only over-count vs the q173 Viterbi optimum).
    "q193_greedy_segment" -> ((s, dir) =>
      operators.Unigram.greedyCounts(documents(s, dir))),
    // Rendezvous (highest-random-weight) shard placement with a
    // scale-out diff: minimal-movement data placement vs the naive
    // modulo baseline — row-local double-Knuth arithmetic only.
    "q174_shard_placement" -> ((s, dir) =>
      operators.Layout.shardPlacement(documents(s, dir))),
    // Consistent-hash RING placement (vnodes): clockwise-successor
    // probe over the Scala-inlined literal ring; scale-out movers go
    // ONLY to the added shard — the minimal-movement twin of q174.
    "q190_ring_placement" -> ((s, dir) =>
      operators.Layout.ringPlacement(documents(s, dir))),
    // Normalization-unlocked exact dedup: lowercase/strip/collapse
    // before hashing; flags docs that only become duplicates after
    // normalization — the near-exact class raw hashing misses.
    "q175_norm_dedup" -> ((s, dir) =>
      TextAnalysis.normalizedDedup(documents(s, dir))),
    // Vocabulary coverage / OOV-rate curve at k = 10/100/1000 — the
    // tokenizer-budget diagnostic over the type-frequency table.
    "q176_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(documents(s, dir))),
    // Curriculum ordering: per-source quality rank, round-robin
    // source interleave, global training position through the q57
    // range-partitioned index (no single-reducer global window).
    "q177_curriculum" -> ((s, dir) =>
      operators.Sampling.curriculumOrder(documents(s, dir))),
    // DoReMi-style domain reweighting: per-source excess loss under
    // the q97 target LM → exponentiated-gradient mixture weights.
    "q179_doremi_weights" -> ((s, dir) =>
      operators.Sampling.doremiWeights(documents(s, dir))),
    // Data-constrained epoch schedule: α-tempered target shares +
    // repetition cap + one waterfill redistribution round.
    "q180_epoch_schedule" -> ((s, dir) =>
      operators.Sampling.epochSchedule(documents(s, dir))),
    // INCREMENTAL epoch-schedule maintenance (q180's twin): three
    // id-ordered ingest waves feed an update-mode per-source token
    // aggregation; the plan is recomputed per wave from the
    // maintained |S|-row state (zero corpus reads per recompute).
    // Final plan must equal the batch q180 plan exactly.
    "q184_stream_epoch_schedule" -> ((s, dir) => {
      val docs = documents(s, dir)
      val wh = graft.util.TempDirs.create("graft-epoch-q184")
      val cols = docs.select(col("doc_id"), col("source"), col("text"))
      val maxId = cols.agg(max(col("doc_id"))).head().getLong(0)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("doc_id"), 0L, maxId).map(cols.filter(_)))
      val stream = FileWaves.read(s, cols.schema, s"$wh/in")
      val m = new streaming.StreamingSchedule.EpochPlanMaintainer(s)
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        operators.Sampling.sourceTokenCounts(stream)
          .writeStream.outputMode("update")
          .foreachBatch(m.update _)
          .option("checkpointLocation", s"$wh/cp").start()
      }
      try q.processAllAvailable() finally q.stop()
      m.currentPlan()
    }),
    // k-anonymous release: generalization ladder where each coarser
    // cohort counts only rows not released at a finer level.
    "q181_k_anonymity" -> ((s, dir) =>
      operators.Pipeline.kAnonymize(
        s.read.parquet(s"$dir/customer.parquet"))),
    // l-diversity audit: per quasi-identifier class, distinct
    // sensitive values + modal frequency cap — the homogeneity-attack
    // guard on top of q181's identity protection.
    "q197_l_diversity" -> ((s, dir) =>
      operators.Pipeline.lDiversityAudit(
        s.read.parquet(s"$dir/customer.parquet"))),
    // UniMax epoch-capped uniform allocation: exact water-filling on
    // the ascending-capacity prefix (q180's published alternative).
    "q198_unimax" -> ((s, dir) =>
      operators.Sampling.uniMaxAllocation(documents(s, dir))),
    // Mann-Kendall trend + Theil-Sen slope per event type: exact-LONG
    // S and tie-corrected variance, explicit sorted-middle median.
    "q199_mann_kendall" -> ((s, dir) =>
      operators.EventsQueries.mannKendallTrend(
        operators.EventsQueries.events(s, dir))),
    // Boilerplate-paragraph strip: every copy of an over-df-cap
    // paragraph removed (q130's complement — CCNet common-lines).
    "q200_boilerplate_strip" -> ((s, dir) =>
      Dedup.boilerplateStrip(documents(s, dir))),
    // NN-descent round: hashed random init graph refined by one
    // neighbors-of-neighbors pass — LSH-free kNN-graph construction.
    "q201_nn_descent" -> ((s, dir) =>
      iterScoped(s, dir, "embeddings") {
        Similarity.nnDescentGraph(Similarity.embeddings(s, dir))
      }),
    // Adamic-Adar link prediction: 2-hop non-edges scored by
    // 1/ln(deg) over common neighbors — the banded graph's recall
    // patch.
    "q202_adamic_adar" -> ((s, dir) =>
      operators.Graph.adamicAdar(Similarity.knnGraph(
        Similarity.embeddings(s, dir)))),
    // kNN label-disagreement audit: modal neighbor vote vs own label
    // — confident-learning-style mislabel detection.
    "q203_label_suspects" -> ((s, dir) =>
      Similarity.labelDisagreement(
        Similarity.embeddingsLabeled(s, dir))),
    // Single-changepoint detection: binary segmentation's first
    // level — argmin split of the daily SSE via exact prefix sums.
    "q204_changepoint" -> ((s, dir) =>
      operators.EventsQueries.changepoint(
        operators.EventsQueries.events(s, dir))),
    // JL hash-sign projection: zero-training 4x dimensionality
    // reduction, row-local codegen'd dots against literal signs.
    "q205_jl_project" -> ((s, dir) =>
      Similarity.jlProject(Similarity.embeddings(s, dir))),
    // STREAMING boilerplate strip (q200's twin): per-digest deferred
    // finality — occurrences withheld until the df cap is crossed,
    // then flushed as cuts; order-independent batch parity, graded
    // against q200's own oracle.
    "q206_stream_boilerplate" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val wh = graft.util.TempDirs.create("graft-boiler-q206")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("doc_id"), 0L, maxId).map(docs.filter(_)))
      val stream = FileWaves.read(s, docs.schema, s"$wh/in")
      s.catalog.dropTempView("graft_q206_cuts")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        streaming.StreamingDedup.paragraphBoilerplateCuts(stream)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wh/cp")
          .format("memory").queryName("graft_q206_cuts").start()
      }
      try q.processAllAvailable() finally q.stop()
      val paras = Dedup.paragraphHashes(Dedup.paragraphBase(docs))
      val kept = paras
        .join(s.table("graft_q206_cuts"), Seq("doc_id", "pos"),
          "left_anti")
        .select(col("doc_id"), col("pos"))
      Dedup.paragraphRebuild(Dedup.paragraphBase(docs), kept)
    }),
    // Code-switch audit: per-paragraph language guess, modal vote,
    // dissent count — the router flag multilingual curation needs.
    "q207_code_switch" -> ((s, dir) =>
      TextAnalysis.codeSwitchAudit(documents(s, dir))),
    // UCB1 source selection: exact-LONG quality rewards, sqrt-ln
    // exploration bonus, deterministic argmax arm.
    "q208_ucb_mixture" -> ((s, dir) =>
      operators.Sampling.ucbAllocation(documents(s, dir))),
    // PRF query expansion: feedback docs -> idf-damped expansion
    // terms -> BM25 re-run over the expanded vocabulary.
    "q209_prf_expansion" -> ((s, dir) =>
      TextAnalysis.prfExpandedTopDocs(documents(s, dir))),
    // Rocchio dense feedback: query moved toward the feedback
    // centroid (alpha q + beta mean F), corpus re-ranked.
    "q210_rocchio_dense" -> ((s, dir) =>
      Similarity.rocchioDenseTopK(Similarity.embeddings(s, dir))),
    // Luhn-validated card scrub: checksum-gated redaction — only
    // runs that pass the 16-step Luhn chain are cut.
    "q211_luhn_scrub" -> ((s, dir) =>
      TextAnalysis.luhnCardScrub(
        TextAnalysis.withSyntheticCards(documents(s, dir)))),
    // Split-conformal intervals: exact integer rank on calibration
    // residuals, distribution-free holdout coverage.
    "q212_conformal" -> ((s, dir) =>
      operators.EventsQueries.conformalIntervals(
        operators.EventsQueries.events(s, dir))),
    // Per-frame audio features over the REAL decoded WAV bytes:
    // exact-LONG energy, zero crossings, fixed-order RMS.
    "q213_audio_features" -> ((s, dir) =>
      operators.Multimodal.audioFrameFeatures(documents(s, dir))),
    // INCREMENTAL trend monitoring: update-mode daily-cents
    // aggregates maintained per wave, q199's battery recomputed from
    // the |types|x|days| state — graded against q199's own oracle.
    "q214_stream_trend" -> ((s, dir) => {
      val ev = operators.EventsQueries.events(s, dir)
        .select(col("event_id"), col("event_type"), col("ts_ms"),
          col("value"))
      val wh = graft.util.TempDirs.create("graft-trend-q214")
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      FileWaves.write(s"$wh/in",
        FileWaves.thirds(col("event_id"), 0L, maxId).map(ev.filter(_)))
      val stream = FileWaves.read(s, ev.schema, s"$wh/in")
      val m = new streaming.StreamingTrend.TrendMaintainer(s)
      // state partitions sized from wave bytes (StreamScale): the
      // update-mode daily-cents aggregate keeps ~|types|×|days| state
      // rows, and this foreachBatch is a bounded driver collect — it
      // has no batch-job parallelism for the smaller count to cut
      // (unlike the q178/q230 merge sinks, which stay unscoped)
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        operators.EventsQueries.dailyCents(stream)
          .writeStream.outputMode("update")
          .foreachBatch(m.update _)
          .option("checkpointLocation", s"$wh/cp").start()
      }
      try q.processAllAvailable() finally q.stop()
      m.currentTrend()
    }),
    // STREAMING lakehouse MERGE: the q171 CDC batch arrives as three
    // micro-batches; each foreachBatch applies idempotent per-bucket
    // copy-on-write to the v1 table on disk. Same closure oracle as
    // q171: the maintained table must equal v2 exactly.
    "q178_stream_merge" -> ((s, dir) => {
      import operators.Pipeline
      val docs = documents(s, dir)
      val wh = graft.util.TempDirs
        .create("graft-merge-q178")
      val tableDir = s"$wh/table"
      docs.filter(col("doc_id") % 10 =!= Pipeline.DiffAddedMod)
        .select(col("doc_id"), col("text"))
        .withColumn("bucket", col("doc_id") % Pipeline.MergeBuckets)
        .write.partitionBy("bucket").parquet(tableDir)
      val cdc = Pipeline.cdcFromDiff(docs)
      FileWaves.write(s"$wh/in",
        (0 until 3).map(w => cdc.filter(col("doc_id") % 3 === w)))
      val stream = FileWaves.read(s, StructType.fromDDL(
        "doc_id BIGINT, op STRING, new_text STRING"), s"$wh/in")
      val q = graft.util.StreamScale.withStatePartitions(s, s"$wh/in") {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            Pipeline.mergeApplyTable(s, tableDir, batch)
          }
          .option("checkpointLocation", s"$wh/cp").start()
      }
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(tableDir).select(col("doc_id"),
        col("bucket").cast("long").as("bucket"), col("text"))
    }),
    // STREAMING lakehouse SCHEMA EVOLUTION (q224's maintenance twin):
    // the two-version CDC log arrives as two SCHEMA EPOCHS — the
    // version-1 files physically LACK the lang column (their writer's
    // schema predates it, so the q224 masking rule holds by
    // construction), then the stream restarts with the evolved schema
    // (the real-pipeline shape of an ADD COLUMN commit) and the
    // version-2 batch evolves only the buckets it touches; cold
    // buckets stay on disk untouched and null-fill through the
    // merged-schema read.
    "q230_stream_schema_evolution" -> ((s, dir) => {
      import operators.Pipeline
      val docs = documents(s, dir)
      val wh = graft.util.TempDirs.create("graft-evolve-q230")
      val tableDir = s"$wh/table"
      val (v1, v2, v3) = Pipeline.timeTravelVersions(docs)
      v1.withColumn("bucket", col("doc_id") % Pipeline.MergeBuckets)
        .write.partitionBy("bucket").parquet(tableDir)
      def waves(inDir: String, cdc: DataFrame): Unit =
        FileWaves.write(inDir,
          (0 until 2).map(w => cdc.filter(col("doc_id") % 2 === w)))
      // epoch 1: pre-boundary schema — no lang column exists
      waves(s"$wh/in1", Pipeline.cdcBetween(v1, v2))
      val q1 = FileWaves.read(s, StructType.fromDDL(
          "doc_id BIGINT, op STRING, new_text STRING"), s"$wh/in1")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Pipeline.mergeApplyTable(s, tableDir, batch)
        }
        .option("checkpointLocation", s"$wh/cp1").start()
      try q1.processAllAvailable() finally q1.stop()
      // epoch 2: the ADD COLUMN commit — stream restarted with the
      // evolved schema, upserts carry the tag
      waves(s"$wh/in2", Pipeline.cdcBetween(v2, v3)
        .withColumn("new_lang", when(col("op") === "upsert",
          Pipeline.evolvedLangCol(col("doc_id")))
          .otherwise(lit(null).cast("string"))))
      val q2 = FileWaves.read(s, StructType.fromDDL(
          "doc_id BIGINT, op STRING, new_text STRING, new_lang STRING"),
          s"$wh/in2")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Pipeline.mergeApplyTableEvolved(s, tableDir, batch,
            Seq("lang"))
        }
        .option("checkpointLocation", s"$wh/cp2").start()
      try q2.processAllAvailable() finally q2.stop()
      Pipeline.readEvolvedTable(s, tableDir, Seq("lang"))
        .select(col("doc_id"),
          col("bucket").cast("long").as("bucket"),
          col("text"), col("lang"))
    }),
    // Salted equi-join (hot-key mitigation): row-identical to the
    // plain join the oracle runs, spread over (key, salt) reducers.
    "q25_salted_join" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val customer = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      operators.Skew.saltedJoin(orders, customer, "custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")).as("sum_price"))
    })
  )

  val TinyFixturePath = "/root/repo/src/test/resources/trips_tiny.jsonl"

  /** Shared DuckDB read of the wire fixture (q11 + q53 oracles): ONE
    * column-spec for the wire schema so a schema change cannot drift
    * between the two mirrors. */
  private def wireReadJson: String =
    s"""read_json('$TinyFixturePath',
       |  format='newline_delimited', ignore_errors=true,
       |  columns={type:'VARCHAR', trip_id:'BIGINT',
       |           pickup_datetime:'TIMESTAMPTZ', dropoff_datetime:'TIMESTAMPTZ',
       |           pickup_lat:'DOUBLE', pickup_lon:'DOUBLE',
       |           dropoff_lat:'DOUBLE', dropoff_lon:'DOUBLE',
       |           total_amount:'DOUBLE', watermark:'TIMESTAMPTZ'})""".stripMargin

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Queries with NO oracle mirror by design (driver records the
    * weaker rows-only check). Empty since round 6: q40's sketches are
    * now graded through bounded-error booleans
    * ([[graft.operators.RelationalQueries.typeStatsApproxChecked]]),
    * which ARE oracle-mirrorable. */
  val rowsOnlyQueries: Set[String] = Set.empty

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       sum(l_extendedprice) AS sum_base_price,
        |       avg(l_discount) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q1_pickup_hotspots" -> OracleSql.q1PickupHotspots,
    "q2_airport_durations" -> OracleSql.q2AirportDurations,
    "q3_events_window" -> OracleSql.eventsHourlyTypeStats,
    "q4_dedup_exact" -> OracleSql.dedupExact,
    "q5_dedup_minhash" -> OracleSql.dedupMinhash,
    "q6_text_stats" -> OracleSql.textStats,
    "q7_lang_id" -> OracleSql.langId,
    "q8_simhash_dups" -> OracleSql.simhashDups,
    "q9_ann_brute" -> OracleSql.annBruteForce,
    "q10_ann_lsh" -> OracleSql.annLsh,
    "q11_wire_codec" ->
      s"""SELECT trip_id, pickup_lat, pickup_lon, dropoff_lat, dropoff_lon,
         |       total_amount,
         |       epoch_ms(CAST(pickup_datetime AS TIMESTAMP)) AS pickup_ms,
         |       epoch_ms(CAST(dropoff_datetime AS TIMESTAMP)) AS dropoff_ms
         |FROM $wireReadJson
         |WHERE type = 'trip'""".stripMargin,
    "q12_dedup_embed" -> OracleSql.embedNearDups,
    "q13_join_nation" -> OracleSql.ordersByNation,
    "q14_top_users" -> OracleSql.topUsers,
    "q15_sessions" -> OracleSql.userSessions,
    "q16_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q17_set_ops" ->
      """SELECT c_custkey AS custkey FROM customer
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q18_dedup_ngram" -> OracleSql.dedupNgram,
    "q19_user_activity" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ts_ms
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_id, ts_ms,
        |         CAST(row_number() OVER w AS BIGINT) AS rank,
        |         ts_ms - lag(ts_ms, 1) OVER w AS gap_ms
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY ts_ms ASC, event_id ASC)
        |)
        |SELECT * FROM r WHERE rank <= 5""".stripMargin,
    "q20_ann_ivf" -> OracleSql.annIvf,
    "q21_multimodal_meta" -> OracleSql.multimodalMeta,
    "q22_skew_salted" ->
      """SELECT user_id, COUNT(*) AS n, SUM(value) AS total
        |FROM events GROUP BY user_id""".stripMargin,
    // quantile_cont = linear interpolation at rank p·(n−1), the same
    // definition as Spark's exact `percentile` aggregate
    "q23_distinct_percentiles" ->
      """SELECT event_type,
        |       COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       quantile_cont(value, 0.5) AS p50_value,
        |       quantile_cont(value, 0.95) AS p95_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q24_token_count" ->
      s"""SELECT doc_id,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(lower(text),
         |         '${graft.operators.TextAnalysis.TokenPattern}')) AS BIGINT)
         |         AS regex_tokens
         |FROM documents""".stripMargin,
    "q26_dedup_winnow" -> OracleSql.dedupWinnow,
    // epoch-aligned hopping windows: every event belongs to exactly
    // size/slide = 4 windows whose starts are the 4 slide-multiples
    // at or below its timestamp
    "q27_sliding_window" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |         (epoch_ns(ts) // 1000000) // 900000 AS slot
        |  FROM events
        |), w AS (
        |  SELECT event_type, value, (slot - k) * 900000 AS win_start
        |  FROM e, (SELECT unnest(range(4)) AS k)
        |)
        |SELECT event_type,
        |       COUNT(*) AS n_events,
        |       SUM(value) AS sum_value,
        |       win_start + 3600000 - 1 AS timestamp
        |FROM w GROUP BY event_type, win_start""".stripMargin,
    "q28_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    // ROWS frame + IGNORE NULLS carry-forward mirrors the Spark
    // last(ignoreNulls) window exactly; ref rows sort before probe
    // rows at equal timestamps (at-or-before inclusive)
    "q29_asof_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ts_ms,
        |         event_type
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), t AS (
        |  SELECT user_id, event_id, ts_ms,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe,
        |         CASE WHEN event_type = 'click' THEN ts_ms END AS r_ts,
        |         CASE WHEN event_type = 'click' THEN event_id END AS r_id
        |  FROM e
        |), c AS (
        |  SELECT *,
        |         last_value(r_ts IGNORE NULLS) OVER win AS click_ts,
        |         last_value(r_id IGNORE NULLS) OVER win AS click_id
        |  FROM t WINDOW win AS (
        |    PARTITION BY user_id
        |    ORDER BY ts_ms ASC, is_probe ASC, event_id ASC
        |    ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT user_id, event_id AS purchase_id, ts_ms AS purchase_ms,
        |       click_id, click_ts, ts_ms - click_ts AS gap_ms
        |FROM c WHERE is_probe = 1 AND click_id IS NOT NULL""".stripMargin,
    "q30_semi_anti" ->
      """SELECT c_custkey AS custkey, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c.c_custkey AND o_orderstatus = 'O')
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "q25_salted_join" ->
      """SELECT c_mktsegment,
        |       COUNT(*) AS n_orders,
        |       SUM(o_totalprice) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q31_range_join" -> OracleSql.rangeJoinNearby,
    "q32_train_split" -> OracleSql.trainSplit,
    "q33_tfidf" -> OracleSql.tfidfTopTerms,
    "q83_bm25" -> OracleSql.bm25TopDocs,
    "q84_hybrid_rrf" -> OracleSql.hybridRrf,
    "q85_retrieval_metrics" -> OracleSql.retrievalMetrics,
    "q86_ndcg" -> OracleSql.ndcgMetrics,
    "q87_hybrid_rrf_indexed" -> OracleSql.hybridRrfIndexed,
    // probe ≡ per-batch LSH top-k (LshIndexSpec pins it), so the
    // index-probe query grades against the same ranking oracle
    "q88_lsh_index_probe" -> OracleSql.annLsh,
    "q89_bm25_multi" -> OracleSql.bm25TopDocsMulti,
    "q90_leakage_safe_split" -> OracleSql.leakageSafeSplit,
    "q91_importance_weights" -> OracleSql.importanceWeights,
    // streaming-maintained index grades against the same ranking
    // oracle as the batch-built one (parity is the whole point)
    "q92_lsh_index_stream" -> OracleSql.annLsh,
    "q93_semdedup" -> OracleSql.semDedup,
    "q94_quality_filter" -> OracleSql.qualityFilter,
    "q95_source_overlap" -> OracleSql.sourceSimilarity,
    "q96_mrl_rerank" -> OracleSql.mrlRerank,
    "q97_target_lm_score" -> OracleSql.targetLmScore,
    "q98_containment" -> OracleSql.containmentDedup,
    "q99_pagerank" -> OracleSql.pageRank,
    "q103_ivf_cells" -> OracleSql.ivfCells,
    "q104_host_quality" -> OracleSql.hostQualityWeights,
    "q105_stream_funnel" -> OracleSql.pipelineFunnel,
    "q106_ann_pq" -> OracleSql.annPq,
    "q107_nb_quality" -> OracleSql.nbQuality,
    "q108_cluster_balance" -> OracleSql.cellBalance,
    "q109_quality_canonical" -> OracleSql.qualityCanonical,
    "q110_temperature_mix" -> OracleSql.temperatureMix,
    "q111_kn_bigram" -> OracleSql.knBigramNll,
    "q112_knn_graph" -> OracleSql.knnGraph,
    "q113_blocklist" -> OracleSql.blocklistScreen,
    "q114_oph_minhash" -> OracleSql.ophDedup,
    "q115_pca_whiten" -> OracleSql.pcaWhiten,
    "q116_weighted_minhash" -> OracleSql.weightedMinhashDedup,
    "q117_rep_signals" -> OracleSql.repetitionSignals,
    "q118_stream_quality" -> OracleSql.nbQualityStreamed,
    "q119_xcorpus_mine" -> OracleSql.mineAlignedPairs,
    "q120_snapshot_diff" -> OracleSql.snapshotDiff,
    "q121_binary_hamming" -> OracleSql.binaryHamming,
    "q126_image_near_dup" -> OracleSql.imageNearDups,
    "q122_quantile_norm" -> OracleSql.quantileNormalize,
    "q123_knn_stream" -> OracleSql.knnStream,
    "q124_graph_search" -> OracleSql.graphSearch,
    "q125_cluster_profile" -> OracleSql.cellProfile,
    "q128_pmi_collocations" -> OracleSql.pmiCollocations,
    "q129_c4_line_clean" -> OracleSql.c4LineClean,
    "q130_paragraph_dedup" -> OracleSql.paragraphDedup,
    // the streaming twin must converge to the identical batch state
    "q183_stream_paragraph_dedup" -> OracleSql.paragraphDedup,
    "q131_mmr_rerank" -> OracleSql.mmrRerank,
    "q132_triangles" -> OracleSql.triangleCounts,
    "q133_pareto_front" -> OracleSql.paretoFront,
    "q134_scd2_dim" -> OracleSql.scd2Dimension,
    "q135_vocab_growth" -> OracleSql.vocabGrowth,
    "q136_neyman_sample" -> OracleSql.neymanSample,
    "q137_ngram_novelty" -> OracleSql.ngramNovelty,
    "q138_cuped" -> OracleSql.cupedLift,
    "q139_markov" -> OracleSql.markovTransitions,
    "q140_attribution" -> OracleSql.attributionCredits,
    "q141_kcore" -> OracleSql.kCore,
    "q142_session_paths" -> OracleSql.sessionPaths,
    "q143_stream_scd2" -> OracleSql.scd2Closed,
    "q144_hits" -> OracleSql.hits,
    "q145_chisq" -> OracleSql.conversionChiSq,
    "q146_item_pairs" -> OracleSql.frequentItemPairs,
    "q147_seasonality" -> OracleSql.hourlySeasonality,
    "q148_degree_profile" -> OracleSql.degreeProfile,
    "q149_rfm" -> OracleSql.rfmSegments,
    "q150_cusum" -> OracleSql.cusumAnomalies,
    "q151_calibration" -> OracleSql.nbCalibration,
    "q152_kaplan_meier" -> OracleSql.kaplanMeier,
    "q153_stream_markov" -> OracleSql.markovTransitions,
    "q154_psi_drift" -> OracleSql.psiDrift,
    "q155_budget_pack" -> OracleSql.budgetPack,
    "q156_stream_cusum" -> OracleSql.cusumClosed,
    "q157_sprt" -> OracleSql.sprtDaily,
    "q158_bootstrap_ci" -> OracleSql.bootstrapCiMean,
    "q159_benford" -> OracleSql.benfordScreen,
    "q160_acf" -> OracleSql.hourlyAcf,
    "q161_pit_join" -> OracleSql.pitJoinClosure,
    "q162_stream_pit" -> OracleSql.serveFetchClosure,
    "q163_wilson" -> OracleSql.conversionWilson,
    "q164_mann_whitney" -> OracleSql.mannWhitney,
    "q165_ks_test" -> OracleSql.ksTest,
    "q166_gini" -> OracleSql.giniLorenz,
    "q167_cohort_ltv" -> OracleSql.cohortLtv,
    "q168_mix_entropy" -> OracleSql.dailyMixEntropy,
    "q169_source_hhi" -> OracleSql.sourceConcentration,
    "q170_coarse_cells" -> OracleSql.coarseFineCells,
    "q185_coarse_search" -> OracleSql.coarseFineSearch,
    "q186_layered_search" -> OracleSql.layeredSearch,
    "q225_layered3_search" -> OracleSql.layeredSearch3,
    "q187_stream_interval_join" -> OracleSql.intervalJoinPairs,
    "q196_stream_outer_join" -> OracleSql.intervalJoinOuter,
    "q188_time_travel" -> OracleSql.timeTravel,
    "q189_label_prop" -> OracleSql.labelPropagation,
    "q171_merge_apply" -> OracleSql.mergeApply,
    "q172_unigram_lm" -> OracleSql.unigramModel,
    "q173_unigram_segment" -> OracleSql.unigramSegment,
    "q174_shard_placement" -> OracleSql.shardPlacement,
    "q190_ring_placement" -> OracleSql.ringPlacement,
    "q191_stream_novelty" -> OracleSql.ngramNovelty,
    "q192_setsim_join" -> OracleSql.setSimJoin,
    // same contract as q192 — the collapse is exactness-preserving,
    // so the identical oracle grades the collapsed path
    "q226_setsim_collapsed" -> OracleSql.setSimJoin,
    "q227_setsim_capped" -> OracleSql.setSimJoinCapped,
    "q193_greedy_segment" -> OracleSql.greedySegment,
    "q194_modularity" -> OracleSql.modularity,
    "q195_ppr" -> OracleSql.personalizedPageRank,
    "q175_norm_dedup" -> OracleSql.normalizedDedup,
    "q176_vocab_coverage" -> OracleSql.vocabCoverage,
    "q177_curriculum" -> OracleSql.curriculumOrder,
    "q178_stream_merge" -> OracleSql.mergeApply,
    "q179_doremi_weights" -> OracleSql.doremiWeights,
    "q180_epoch_schedule" -> OracleSql.epochSchedule,
    // the incremental twin must converge to the identical batch plan
    "q184_stream_epoch_schedule" -> OracleSql.epochSchedule,
    "q181_k_anonymity" -> OracleSql.kAnonymize,
    "q197_l_diversity" -> OracleSql.lDiversityAudit,
    "q198_unimax" -> OracleSql.uniMaxAllocation,
    "q199_mann_kendall" -> OracleSql.mannKendallTrend,
    "q200_boilerplate_strip" -> OracleSql.boilerplateStrip,
    "q201_nn_descent" -> OracleSql.nnDescentGraph,
    "q202_adamic_adar" -> OracleSql.adamicAdar,
    "q203_label_suspects" -> OracleSql.labelDisagreement,
    "q204_changepoint" -> OracleSql.changepoint,
    "q205_jl_project" -> OracleSql.jlProject,
    // the streaming twin must converge to the identical batch strip
    "q206_stream_boilerplate" -> OracleSql.boilerplateStrip,
    "q207_code_switch" -> OracleSql.codeSwitchAudit,
    "q208_ucb_mixture" -> OracleSql.ucbAllocation,
    "q209_prf_expansion" -> OracleSql.prfExpandedTopDocs,
    "q210_rocchio_dense" -> OracleSql.rocchioDenseTopK,
    "q211_luhn_scrub" -> OracleSql.luhnCardScrub,
    "q212_conformal" -> OracleSql.conformalIntervals,
    "q213_audio_features" -> OracleSql.audioFrameFeatures,
    // the incremental twin must converge to the batch trend battery
    "q214_stream_trend" -> OracleSql.mannKendallTrend,
    "q215_vacuum" -> OracleSql.vacuumCompact,
    "q216_dup_audit" -> OracleSql.dupRateAudit,
    "q217_vocab_richness" -> OracleSql.vocabRichness,
    "q218_length_buckets" -> OracleSql.lengthBucketAudit,
    "q219_sem_decontam" -> OracleSql.semanticContamination,
    "q220_source_jsd" -> OracleSql.sourceJsd,
    "q221_zipf_fit" -> OracleSql.zipfFit,
    // the deferred streaming twin closes to the identical batch
    // canonical even under reversed ingest
    "q222_stream_paragraph_deferred" -> OracleSql.paragraphDedup,
    "q223_decontam_funnel" -> OracleSql.decontaminatedFunnel,
    "q224_schema_evolution" -> OracleSql.schemaEvolution,
    "q234_fim_transform" -> OracleSql.fimTransform,
    "q238_span_corrupt" -> OracleSql.spanCorrupt,
    "q239_html_extract" -> OracleSql.htmlExtract,
    "q240_html_funnel" -> OracleSql.htmlFunnel,
    "q241_exact_substr" -> OracleSql.exactSubstrSpans,
    "q242_substr_removal" -> OracleSql.exactSubstrRemoval,
    "q243_url_canonical" -> OracleSql.urlCanonical,
    "q244_host_quota" -> OracleSql.hostQuota,
    "q296_robots_wildcard" -> OracleSql.robotsWildcardGate,
    // the parsed-rules gate must EQUAL q296 — same oracle, verbatim
    "q310_robots_wildcard_parsed" -> OracleSql.robotsWildcardGate,
    "q311_cross_source_dups" -> OracleSql.crossSourceDups,
    "q312_bpe_batched" -> OracleSql.bpeBatchedMerges,
    "q313_bpe_batched_segment" -> OracleSql.bpeBatchedSegmentCounts,
    "q328_wordpiece_merges" -> OracleSql.wordPieceMerges,
    "q329_wordpiece_segment" -> OracleSql.wordPieceSegmentCounts,
    // MIME synthesis arithmetic mirrored; the engine side recovers
    // every value by PARSING the message (headers -> boundary ->
    // per-part decode), and the decoded text digest must equal the
    // original document's — a wrong unfold/dechunk/decode flips it.
    "q331_mime_parse" ->
      """SELECT doc_id,
        |       2 + doc_id % 2 AS n_parts,
        |       CASE WHEN doc_id % 3 = 0
        |            THEN 'Report_' || CAST(doc_id AS VARCHAR)
        |            ELSE 'Report ' || CAST(doc_id AS VARCHAR)
        |       END AS subject,
        |       1 + doc_id % 3 AS n_recipients,
        |       md5(text) AS text_md5,
        |       TRUE AS html_ok,
        |       CASE WHEN doc_id % 2 = 1 THEN 16 + doc_id % 32
        |            ELSE 0 END AS att_n_bytes,
        |       CASE WHEN doc_id % 2 = 1 THEN
        |         CAST(list_sum(list_transform(
        |           range(16 + doc_id % 32),
        |           i -> (doc_id * 31 + i * 7) % 256)) AS BIGINT)
        |       ELSE 0 END AS att_byte_sum,
        |       TRUE AS valid
        |FROM documents""".stripMargin,
    // data-URI images: dims from the q67 synthesis arithmetic; the
    // lossless byte-exact raster gate asserted literally TRUE
    "q309_data_uri_images" ->
      """SELECT doc_id, 1 AS n_data_uris, 1 AS n_external_refs,
        |       'image/png' AS mime,
        |       4 + doc_id % 7 AS width, 5 + doc_id % 6 AS height,
        |       TRUE AS pixels_exact
        |FROM documents""".stripMargin,
    // IDN: fixture hosts and EXPECTED ACE forms both literal in the
    // oracle; the engine side computes the ACE via RFC 3492
    "q297_idn_hosts" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'www.example.com'
        |    WHEN 1 THEN 'münchen.example.com'
        |    WHEN 2 THEN 'bücher.de'
        |    WHEN 3 THEN 'shop.köln.de'
        |    WHEN 4 THEN 'mañana.example.org'
        |    ELSE 'api.example.io' END AS host,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'www.example.com'
        |    WHEN 1 THEN 'xn--mnchen-3ya.example.com'
        |    WHEN 2 THEN 'xn--bcher-kva.de'
        |    WHEN 3 THEN 'shop.xn--kln-sna.de'
        |    WHEN 4 THEN 'xn--maana-pta.example.org'
        |    ELSE 'api.example.io' END AS ascii_host,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'www.example.com'
        |    WHEN 1 THEN 'münchen.example.com'
        |    WHEN 2 THEN 'bücher.de'
        |    WHEN 3 THEN 'shop.köln.de'
        |    WHEN 4 THEN 'mañana.example.org'
        |    ELSE 'api.example.io' END AS unicode_host,
        |  doc_id % 6 IN (1, 2, 3, 4) AS is_idn,
        |  TRUE AS roundtrip_ok
        |FROM documents""".stripMargin,
    "q293_url_pct_canonical" -> OracleSql.urlPctCanonical,
    "q294_url_pct_collapse" -> OracleSql.urlPctCollapse,
    "q245_partition_evolution" -> OracleSql.partitionEvolution,
    // the streaming twin is graded by the BATCH funnel's oracle —
    // wave-harness parity is the contract
    "q246_stream_decontam_funnel" -> OracleSql.decontaminatedFunnel,
    "q247_warc_parse" -> OracleSql.warcParsed,
    "q248_web_funnel" -> OracleSql.webFunnel,
    "q290_warcgz_multirecord" -> OracleSql.warcGzParsed,
    // the gzip-path funnel must EQUAL q248 — same oracle, verbatim
    "q291_warcgz_funnel" -> OracleSql.webFunnel,
    "q292_warc_charset" -> OracleSql.warcIntl,
    "q300_sitemap_index" -> OracleSql.sitemapIndexResolved,
    "q298_warc_gzip_body" -> OracleSql.warcGzipBodies,
    "q299_warc_chunked_body" -> OracleSql.warcChunkedBodies,
    "q301_cdx_range_fetch" -> OracleSql.cdxRangeFetch,
    "q303_chat_template" -> OracleSql.chatTemplate,
    // ADPCM is lossy: counts exact from the synthesis arithmetic,
    // error booleans literally TRUE (the q68/q228 pattern).
    "q305_adpcm_roundtrip" ->
      """SELECT doc_id, 256 + doc_id % 128 AS n_samples,
        |       (256 + doc_id % 128 + 1) // 2 AS n_adpcm_bytes,
        |       TRUE AS max_err_ok, TRUE AS mean_err_ok
        |FROM documents""".stripMargin,
    // Mojibake: the corrupted literals are HAND-derived from the
    // UTF-8 table (« -> Â«, é -> Ã©, ° -> Â°, » -> Â»), so the
    // engine's repair is graded against an independent derivation.
    "q308_mojibake_repair" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'plain doc ' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '«café n° ' || CAST(doc_id AS VARCHAR)
        |        || '»'
        |      ELSE 'Â«cafÃ© nÂ° ' || CAST(doc_id AS VARCHAR)
        |        || 'Â»' END AS t_in,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'plain doc ' || CAST(doc_id AS VARCHAR)
        |      ELSE '«café n° ' || CAST(doc_id AS VARCHAR) || '»'
        |      END AS t_out
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 'mojibake' ELSE 'clean' END
        |    AS verdict,
        |  CAST(length(t_in) AS BIGINT) AS n_chars_in,
        |  CAST(length(t_out) AS BIGINT) AS n_chars_out,
        |  md5(t_out) AS text_md5
        |FROM v""".stripMargin,
    // Coded WAV: block count from the spec's ceil arithmetic
    // (505 samples per 256-byte IMA block); booleans TRUE.
    "q307_coded_wav" ->
      """SELECT doc_id, 256 + doc_id % 128 AS n_samples,
        |       TRUE AS pcm_exact, TRUE AS mulaw_transparent,
        |       (256 + doc_id % 128 + 504) // 505 AS n_ima_blocks,
        |       TRUE AS ima_heads_exact, TRUE AS ima_err_ok
        |FROM documents""".stripMargin,
    // G.711 is 1 byte/sample; exactness booleans literally TRUE.
    "q306_g711_roundtrip" ->
      """SELECT doc_id, 256 + doc_id % 128 AS n_samples,
        |       256 + doc_id % 128 AS n_mulaw_bytes,
        |       256 + doc_id % 128 AS n_alaw_bytes,
        |       TRUE AS mulaw_err_ok, TRUE AS alaw_err_ok,
        |       TRUE AS mulaw_canonical, TRUE AS alaw_canonical
        |FROM documents""".stripMargin,
    "q304_preference_pairs" -> OracleSql.preferencePairs,
    "q302_warc_deflate_body" -> OracleSql.warcDeflateBodies,
    "q316_http_coding_stack" -> OracleSql.httpCodingStack,
    // the streaming twin must EQUAL q316 — same oracle, verbatim
    "q330_stream_coding_stack" -> OracleSql.httpCodingStack,
    "q317_warc_req_resp" -> OracleSql.warcGzPaired,
    "q318_code_switching" -> OracleSql.codeSwitchStats,
    "q319_sitemap_discovery" -> OracleSql.sitemapDiscovery,
    "q320_jsonld_extract" -> OracleSql.jsonLdExtract,
    "q321_feed_entries" -> OracleSql.feedEntries,
    "q322_http_cache_plan" -> OracleSql.httpCachePlan,
    "q323_heading_outline" -> OracleSql.headingOutline,
    "q324_snapshot_novelty" -> OracleSql.snapshotNovelty,
    "q325_section_chunks" -> OracleSql.sectionChunks,
    "q326_meta_resolution" -> OracleSql.metaResolution,
    "q249_robots_gate" -> OracleSql.robotsGate,
    "q250_web_host_report" -> OracleSql.webHostReport,
    "q251_cdx_index" -> OracleSql.cdxIndex,
    "q252_warc_revisit" -> OracleSql.warcRevisits,
    "q253_sitemap_parse" -> OracleSql.sitemapEntries,
    "q254_crawl_frontier" -> OracleSql.crawlFrontier,
    "q255_vtt_cues" -> OracleSql.vttCues,
    "q256_frame_cue_align" -> OracleSql.frameCueAlign,
    "q257_vad_segments" -> OracleSql.vadSegments,
    "q258_exif_parse" -> OracleSql.exifStats,
    "q259_page_hinkley" -> OracleSql.pageHinkley,
    "q260_stream_page_hinkley" -> OracleSql.pageHinkleyClosed,
    "q261_cdc_chunks" -> OracleSql.cdcChunks,
    "q263_tokenizer_fertility" -> OracleSql.tokenizerFertility,
    "q264_link_extract" -> OracleSql.linkExtract,
    "q266_host_graph" -> OracleSql.hostGraph,
    "q267_charset_sniff" -> OracleSql.charsetStats,
    "q268_phrase_search" -> OracleSql.phraseSearch,
    "q273_registrable_domain" -> OracleSql.registrableDomain,
    "q274_sentence_segments" -> OracleSql.sentenceSegments,
    "q275_corpus_datasheet" -> OracleSql.corpusDatasheet,
    "q276_recrawl_schedule" -> OracleSql.recrawlSchedule,
    "q277_cdc_near_dup" -> OracleSql.cdcNearDups,
    "q278_wayback_lookup" -> OracleSql.waybackLookup,
    "q279_redirect_resolve" -> OracleSql.resolveRedirects,
    "q280_shot_boundaries" -> OracleSql.shotBoundaries,
    "q281_shot_sampling" -> OracleSql.shotSampledFrames,
    "q282_interleave" -> OracleSql.interleaveMultimodal,
    "q283_crawl_budget" -> OracleSql.crawlBudgetAllocation,
    "q284_rag_contexts" -> OracleSql.ragContexts,
    "q285_rag_dedup_contexts" -> OracleSql.ragDedupContexts,
    "q286_withindoc_dedup" -> OracleSql.withinDocParagraphDedup,
    "q287_source_contamination" -> OracleSql.sourceContamination,
    "q288_dedup_consensus" -> OracleSql.dedupConsensus,
    "q269_robots_parse" -> OracleSql.robotsParse,
    "q271_stream_cdx" -> OracleSql.cdxIndex,
    // the streaming funnel must EQUAL batch q248 — same oracle
    "q295_stream_web_funnel" -> OracleSql.webFunnel,
    "q272_stream_revisit" -> OracleSql.warcRevisits,
    "q270_frontier_delayed" -> OracleSql.crawlFrontierDelayed,
    "q265_anchor_index" -> OracleSql.anchorIndex,
    "q262_cdc_dedup" -> OracleSql.cdcDedupStats,
    "q230_stream_schema_evolution" -> OracleSql.schemaEvolutionMerge,
    "q231_logreg_quality" -> OracleSql.logRegQuality,
    "q232_gradient_influence" -> OracleSql.gradientInfluence,
    "q100_bpe_merges" -> OracleSql.bpeMerges,
    "q101_bpe_segment" -> OracleSql.bpeSegmentCounts,
    "q102_span_removal" -> OracleSql.removeDupSpans,
    "q34_quota_sample" -> OracleSql.quotaSample,
    "q35_json_props" -> OracleSql.propsStats,
    "q36_pipeline_funnel" -> OracleSql.pipelineFunnel,
    "q37_pivot" -> OracleSql.docsPivot,
    "q41_repetition" -> OracleSql.repetitionStats,
    "q42_dedup_clusters" -> OracleSql.dedupClusters,
    "q51_dedup_clusters_star" -> OracleSql.dedupClusters,
    "q52_incremental_dedup" -> OracleSql.incrementalDedup,
    "q43_contamination" -> OracleSql.benchmarkContamination,
    "q233_exact_decontam" -> OracleSql.exactNgramDecontam,
    "q235_dup_histogram" -> OracleSql.gramDupHistogram,
    // stateless per-document screen: streamed union == batch exactly
    "q237_stream_decontam" -> OracleSql.exactNgramDecontam,
    "q236_top_dup_grams" -> OracleSql.topDuplicatedGrams,
    "q38_unpivot" -> OracleSql.langScoresUnpivot,
    "q39_rolling_window" -> OracleSql.rollingUserStats,
    // Sketch bounds oracle: the exact aggregates are recomputed, the
    // within-bound booleans asserted literally TRUE (see
    // RelationalQueries.typeStatsApproxChecked).
    "q40_approx_sketches" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS exact_users,
        |       quantile_cont(value, 0.5) AS exact_p50,
        |       TRUE AS users_ok, TRUE AS p50_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q44_pii_scrub" -> OracleSql.piiScrub,
    "q45_ann_multiprobe" -> OracleSql.annLshMultiProbe,
    "q46_pack_sequences" -> OracleSql.packSequences,
    "q47_perplexity" -> OracleSql.unigramNll,
    "q48_chunk_docs" -> OracleSql.chunkDocs,
    "q54_wav_decode" -> OracleSql.wavDecode,
    "q55_ppm_decode" -> OracleSql.ppmDecode,
    "q67_png_decode" -> OracleSql.pngDecode,
    // JPEG is lossy: the oracle recomputes the synthesized dims and
    // asserts the bounded-error booleans literally TRUE (see
    // Multimodal.jpegDecodeStats).
    "q68_jpeg_decode" ->
      """SELECT doc_id, 8 + doc_id % 9 AS width, 8 + doc_id % 7 AS height,
        |       TRUE AS mean_r_ok, TRUE AS mean_g_ok, TRUE AS mean_b_ok
        |FROM documents""".stripMargin,
    // MJPEG is lossy like q68: the oracle recomputes the synthesized
    // track shape and asserts the per-frame bounded-error booleans
    // literally TRUE (see Multimodal.mjpegDecodeStats).
    "q182_mjpeg_decode" ->
      """SELECT doc_id, 2 + doc_id % 5 AS n_frames,
        |       8 + doc_id % 9 AS width, 8 + doc_id % 7 AS height,
        |       TRUE AS mean_r_ok, TRUE AS mean_g_ok, TRUE AS mean_b_ok
        |FROM documents""".stripMargin,
    // H.264 intra is lossy like q68/q182: the oracle recomputes the
    // synthesized dims/MB count and asserts the bounded-error
    // booleans literally TRUE (see Multimodal.h264DecodeStats).
    "q228_h264_intra_decode" ->
      """SELECT doc_id, 16 * (1 + doc_id % 3) AS width,
        |       16 * (1 + doc_id % 2) AS height,
        |       (1 + doc_id % 3) * (1 + doc_id % 2) AS n_mbs,
        |       TRUE AS max_y_ok, TRUE AS mean_y_ok,
        |       TRUE AS chroma_ok
        |FROM documents""".stripMargin,
    // The AC-residual extension (q289): dims/MB count from the
    // synthesis arithmetic, n_ac_blocks asserted EXACTLY equal to
    // all 16*n_mbs luma blocks (the fixture's slopes are sized so
    // both AC coefficients survive quantization at both QPs — see
    // Multimodal.h264AcDecodeStats), bounded-error booleans TRUE.
    "q289_h264_ac_decode" ->
      """SELECT doc_id, 16 * (1 + doc_id % 3) AS width,
        |       16 * (1 + doc_id % 2) AS height,
        |       (1 + doc_id % 3) * (1 + doc_id % 2) AS n_mbs,
        |       16 * (1 + doc_id % 3) * (1 + doc_id % 2)
        |         AS n_ac_blocks,
        |       TRUE AS max_y_ok, TRUE AS mean_y_ok,
        |       TRUE AS chroma_ok, TRUE AS total_coeff_ok
        |FROM documents""".stripMargin,
    // The chroma rung (q314): dims from the synthesis arithmetic,
    // n_chroma_coded_mbs asserted EXACTLY equal to n_mbs (the
    // stripe amplitudes guarantee a surviving chroma DC level per
    // MB — spec-verified over all 8 fixture variants), error
    // booleans literally TRUE.
    "q314_h264_chroma_decode" ->
      """SELECT doc_id, 16 * (1 + (doc_id % 8) % 2) AS width,
        |       16 * (1 + ((doc_id % 8) // 2) % 2) AS height,
        |       (1 + (doc_id % 8) % 2) * (1 + ((doc_id % 8) // 2) % 2)
        |         AS n_mbs,
        |       (1 + (doc_id % 8) % 2) * (1 + ((doc_id % 8) // 2) % 2)
        |         AS n_chroma_coded_mbs,
        |       TRUE AS chroma_tc_ok, TRUE AS max_y_ok,
        |       TRUE AS max_cb_ok, TRUE AS max_cr_ok
        |FROM documents""".stripMargin,
    // The dense/FLC rung (q315): n_flc_blocks is EXACT arithmetic —
    // with every block's TotalCoeff >= 8 (spec-verified over the 8
    // variants) 9.2.1 puts every block except (0,0) in the nC >= 8
    // FLC column: 16*n_mbs - 1.
    "q315_h264_dense_decode" ->
      """SELECT doc_id, 16 * (1 + (doc_id % 8) % 2) AS width,
        |       16 * (1 + ((doc_id % 8) // 2) % 2) AS height,
        |       (1 + (doc_id % 8) % 2) * (1 + ((doc_id % 8) // 2) % 2)
        |         AS n_mbs,
        |       16 * (1 + (doc_id % 8) % 2)
        |         * (1 + ((doc_id % 8) // 2) % 2) - 1 AS n_flc_blocks,
        |       TRUE AS saturated_ok, TRUE AS max_y_ok,
        |       TRUE AS chroma_ok
        |FROM documents""".stripMargin,
    // The mid-column rung (q327): with every block's TotalCoeff in
    // 4..7 (spec-verified over the 8 variants) 9.2.1 puts every
    // block except (0,0) in the 4 <= nC < 8 column: n_mid_blocks =
    // 16*n_mbs - 1 exactly, and no block reaches the FLC column.
    "q327_h264_mid_decode" ->
      """SELECT doc_id, 16 * (1 + (doc_id % 8) % 2) AS width,
        |       16 * (1 + ((doc_id % 8) // 2) % 2) AS height,
        |       (1 + (doc_id % 8) % 2) * (1 + ((doc_id % 8) // 2) % 2)
        |         AS n_mbs,
        |       16 * (1 + (doc_id % 8) % 2)
        |         * (1 + ((doc_id % 8) // 2) % 2) - 1 AS n_mid_blocks,
        |       0 AS n_flc_blocks,
        |       TRUE AS mid_tc_ok, TRUE AS max_y_ok,
        |       TRUE AS chroma_ok
        |FROM documents""".stripMargin,
    // The GIF rung (q332): LZW is LOSSLESS, so the decoded
    // pixel-index sum is EXACT synthesis arithmetic, as is the
    // first palette entry; `lossless` asserted literally TRUE.
    "q332_gif_decode" ->
      """SELECT doc_id,
        |       8 + (doc_id % 5) * 4 AS width,
        |       8 + ((doc_id // 5) % 4) * 4 AS height,
        |       (8 + (doc_id % 5) * 4) * (8 + ((doc_id // 5) % 4) * 4)
        |         AS n_pixels,
        |       CAST(list_sum(list_transform(
        |         range((8 + (doc_id % 5) * 4)
        |               * (8 + ((doc_id // 5) % 4) * 4)),
        |         i -> (doc_id + i * 7) % 4)) AS BIGINT) AS idx_sum,
        |       ((doc_id % 256) * 65536
        |        + ((doc_id * 3) % 256) * 256
        |        + (doc_id * 5) % 256) AS palette0,
        |       TRUE AS lossless
        |FROM documents""".stripMargin,
    // The script-mix rung (q334): the oracle recomputes the census
    // from the transliteration arithmetic — word j of doc d is
    // script (d+j)%4 over its [a-z] letters, except (d+j)%13==0
    // words interleave Cyrillic (even letter positions, ceil(n/2))
    // with Latin (odd, floor(n/2)); non-letters and spaces are
    // Common. Dominant-script tie precedence is the fixed
    // latin > cyrillic > greek > cjk order.
    "q334_script_mix" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |         len(text) AS tot
        |  FROM documents
        |), per AS (
        |  SELECT doc_id, tot,
        |    list_transform(range(len(w)), j -> struct_pack(
        |      s := (doc_id + j) % 4,
        |      m := CASE WHEN (doc_id + j) % 13 = 0 THEN 1 ELSE 0 END,
        |      n := len(regexp_replace(w[j + 1], '[^a-z]', '', 'g'))
        |    )) AS ws
        |  FROM d
        |), agg AS (
        |  SELECT doc_id, tot,
        |    CAST(COALESCE(list_sum(list_transform(ws, x ->
        |      CASE WHEN x.m = 1 THEN x.n // 2
        |           WHEN x.s = 0 THEN x.n ELSE 0 END)), 0) AS BIGINT)
        |      AS n_latin,
        |    CAST(COALESCE(list_sum(list_transform(ws, x ->
        |      CASE WHEN x.m = 1 THEN (x.n + 1) // 2
        |           WHEN x.s = 1 THEN x.n ELSE 0 END)), 0) AS BIGINT)
        |      AS n_cyrillic,
        |    CAST(COALESCE(list_sum(list_transform(ws, x ->
        |      CASE WHEN x.m = 0 AND x.s = 2 THEN x.n ELSE 0 END)),
        |      0) AS BIGINT) AS n_greek,
        |    CAST(COALESCE(list_sum(list_transform(ws, x ->
        |      CASE WHEN x.m = 0 AND x.s = 3 THEN x.n ELSE 0 END)),
        |      0) AS BIGINT) AS n_cjk,
        |    CAST(COALESCE(list_sum(list_transform(ws, x -> x.n)), 0)
        |      AS BIGINT) AS letters,
        |    CAST(COALESCE(list_sum(list_transform(ws, x ->
        |      CASE WHEN x.m = 1 AND x.n >= 2 THEN 1 ELSE 0 END)),
        |      0) AS BIGINT) AS n_mixed
        |  FROM per
        |)
        |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk,
        |       tot - letters AS n_common,
        |       CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
        |                 AND n_latin >= n_cjk THEN 'latin'
        |            WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk
        |                 THEN 'cyrillic'
        |            WHEN n_greek >= n_cjk THEN 'greek'
        |            ELSE 'cjk' END AS dominant_script,
        |       n_mixed AS n_mixed_words,
        |       n_mixed > 0 AS spoof_suspect
        |FROM agg""".stripMargin,
    // The torrent rung (q341): every field closed-form — pieces is
    // ceil(n_chars/64) blocks of 20 arithmetic bytes, summed.
    "q341_torrent_meta" ->
      """SELECT doc_id,
        |       'http://tracker' || CAST(doc_id % 5 AS VARCHAR)
        |         || '.example.com/announce' AS announce,
        |       CAST(len(text) AS BIGINT) AS length,
        |       'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
        |       64 AS piece_length,
        |       (len(text) + 63) // 64 AS n_pieces,
        |       CAST(COALESCE(list_sum(list_transform(
        |         range((len(text) + 63) // 64), p ->
        |           list_sum(list_transform(range(20), j ->
        |             (doc_id * 7 + p * 13 + j) % 256)))), 0)
        |         AS BIGINT) AS pieces_byte_sum
        |FROM documents""".stripMargin,
    // The robots-meta rung (q342): the meta channel by doc_id%4
    // ({}, noindex, nofollow, both), the header channel by doc_id%3
    // ({}, noarchive, noindex); union size subtracts the one
    // possible overlap (noindex in both).
    "q342_robots_meta" ->
      """SELECT doc_id,
        |       (CASE doc_id % 4 WHEN 0 THEN 0 WHEN 3 THEN 2
        |             ELSE 1 END)
        |       + (CASE doc_id % 3 WHEN 0 THEN 0 ELSE 1 END)
        |       - (CASE WHEN doc_id % 3 = 2
        |               AND (doc_id % 4 = 1 OR doc_id % 4 = 3)
        |               THEN 1 ELSE 0 END) AS n_directives,
        |       NOT (doc_id % 4 IN (1, 3) OR doc_id % 3 = 2)
        |         AS indexable,
        |       NOT (doc_id % 4 IN (2, 3)) AS followable,
        |       NOT (doc_id % 3 = 1) AS archivable
        |FROM documents""".stripMargin,
    // The TFRecord rung (q340): q335's slice arithmetic at
    // 1 + doc_id % 3 records; token_sum = per-slice word count
    // (split on ' ', empty-string convention shared by both
    // engines) + char count.
    "q340_tfrecord_walk" ->
      """WITH s AS (
        |  SELECT doc_id, 1 + doc_id % 3 AS n,
        |    list_transform(range(CAST(1 + doc_id % 3 AS BIGINT)),
        |      k -> substring(text, CAST(k * 37 + 1 AS BIGINT),
        |                     CAST(100 + 13 * k AS BIGINT))) AS sl
        |  FROM documents
        |)
        |SELECT doc_id, n AS n_records,
        |       md5(list_reduce(sl, (a, b) -> a || b)) AS content_md5,
        |       TRUE AS ids_ok,
        |       CAST(COALESCE(list_sum(list_transform(sl, x ->
        |         len(string_split(x, ' ')) + len(x))), 0) AS BIGINT)
        |         AS token_sum
        |FROM s""".stripMargin,
    // The NFC rung (q338): the oracle synthesizes the identical
    // decomposed salting (chr(769) = U+0301 acute, chr(768) =
    // U+0300 grave) and runs DuckDB's OWN nfc_normalize — an
    // independent UAX #15 implementation — over it.
    "q338_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), s AS (
        |  SELECT doc_id, array_to_string(
        |    list_transform(range(len(w)), j ->
        |      CASE WHEN (doc_id + j) % 7 = 0
        |           THEN 'a' || chr(768) ELSE '' END
        |      || w[j + 1] ||
        |      CASE WHEN (doc_id + j) % 5 = 0
        |           THEN 'e' || chr(769) ELSE '' END), ' ') AS salted
        |  FROM d
        |)
        |SELECT doc_id,
        |       CAST(len(salted) AS BIGINT) AS n_before,
        |       CAST(len(nfc_normalize(salted)) AS BIGINT) AS n_after,
        |       CAST(len(salted) - len(nfc_normalize(salted))
        |         AS BIGINT) AS n_composed,
        |       md5(nfc_normalize(salted)) AS norm_md5
        |FROM s""".stripMargin,
    // The sketch rung (q337): exact per-type counts beside
    // rank-error booleans (the estimates themselves are
    // merge-tree-dependent; the BOUND is not) — q40's discipline.
    "q337_quantile_sketch" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       TRUE AS p10_ok, TRUE AS p50_ok, TRUE AS p90_ok,
        |       TRUE AS p99_ok
        |FROM events GROUP BY event_type""".stripMargin,
    // the streaming twin must satisfy the SAME contract — q337's
    // oracle verbatim (the q296/q310 equal-oracle discipline)
    "q339_stream_quantiles" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       TRUE AS p10_ok, TRUE AS p50_ok, TRUE AS p90_ok,
        |       TRUE AS p99_ok
        |FROM events GROUP BY event_type""".stripMargin,
    // The archive rungs (q335/q336): entry k of doc d carries
    // text[37k, 37k+100+13k) — the oracle recomputes the slices,
    // their total length and their concatenated md5 directly from
    // `text`; the engine recovers them by WALKING the container
    // (central directory + CRC-32 for ZIP, checksummed ustar
    // headers for TAR). TAR's archive_bytes is exact padding
    // arithmetic: 512-byte header + content padded to 512 per
    // entry + the 1024-byte terminator.
    "q335_zip_walk" ->
      """WITH s AS (
        |  SELECT doc_id, 1 + doc_id % 4 AS n,
        |    list_transform(range(CAST(1 + doc_id % 4 AS BIGINT)),
        |      k -> substring(text, CAST(k * 37 + 1 AS BIGINT),
        |                     CAST(100 + 13 * k AS BIGINT))) AS sl
        |  FROM documents
        |)
        |SELECT doc_id, n AS n_entries,
        |       CAST(COALESCE(list_sum(list_transform(sl,
        |         x -> len(x))), 0) AS BIGINT) AS total_bytes,
        |       (n + 1) // 2 AS n_stored,
        |       n // 2 AS n_deflated,
        |       md5(list_reduce(sl, (a, b) -> a || b)) AS content_md5,
        |       TRUE AS names_ok
        |FROM s""".stripMargin,
    "q336_tar_walk" ->
      """WITH s AS (
        |  SELECT doc_id, 1 + doc_id % 4 AS n,
        |    list_transform(range(CAST(1 + doc_id % 4 AS BIGINT)),
        |      k -> substring(text, CAST(k * 37 + 1 AS BIGINT),
        |                     CAST(100 + 13 * k AS BIGINT))) AS sl
        |  FROM documents
        |)
        |SELECT doc_id, n AS n_entries,
        |       CAST(COALESCE(list_sum(list_transform(sl,
        |         x -> len(x))), 0) AS BIGINT) AS total_bytes,
        |       CAST(COALESCE(list_sum(list_transform(sl,
        |         x -> 512 + ((len(x) + 511) // 512) * 512)), 0)
        |         + 1024 AS BIGINT) AS archive_bytes,
        |       md5(list_reduce(sl, (a, b) -> a || b)) AS content_md5,
        |       TRUE AS names_ok
        |FROM s""".stripMargin,
    // The FLAC rung (q333): losslessness makes the decoded sample
    // sum EXACT three-segment arithmetic; the frame census is
    // ceil(n/4096); md5_ok/lossless asserted literally TRUE.
    "q333_flac_decode" ->
      """WITH p AS (
        |  SELECT doc_id, 2000 + (doc_id % 7) * 500 AS n
        |  FROM documents
        |)
        |SELECT doc_id, n AS n_samples,
        |       (n + 4095) // 4096 AS n_frames,
        |       CAST(list_sum(list_transform(range(n), i ->
        |         CASE WHEN i < 700 THEN (doc_id % 2000) - 1000
        |              WHEN i < 1400 THEN (i - 700) * 3 - 1050
        |                                 + (doc_id % 11)
        |              ELSE ((doc_id * 31 + i * 2654435761)
        |                    % 65536) - 32768
        |         END)) AS BIGINT) AS sample_sum,
        |       44100 AS sample_rate,
        |       TRUE AS md5_ok, TRUE AS lossless
        |FROM p""".stripMargin,
    // avc1 boxing mirrors Multimodal.avc1DecodeStats's synthesis
    // arithmetic; booleans asserted literally TRUE (lossy codec,
    // bounded error — the q68/q182/q228 pattern).
    "q229_avc1_track_decode" ->
      """SELECT doc_id, 1 + doc_id % 3 AS n_frames,
        |       16 * (1 + doc_id % 2) AS width,
        |       16 * (1 + (doc_id // 2) % 2) AS height,
        |       TRUE AS max_y_ok, TRUE AS chroma_ok
        |FROM documents""".stripMargin,
    // Mirrors Multimodal.mp4MetaStats's synthesis arithmetic; the
    // engine side recovers these facts by parsing the real container.
    "q69_mp4_meta" ->
      """SELECT doc_id, 1000 AS timescale,
        |       1000 + doc_id % 9000 AS duration,
        |       (1000 + doc_id % 9000) * 1000 // 1000 AS duration_ms,
        |       CAST(1 + doc_id % 3 AS INTEGER) AS n_tracks,
        |       16 + doc_id % 64 AS mdat_bytes
        |FROM documents""".stripMargin,
    // Mirrors Multimodal.mp4FramesOf's pixel arithmetic; the engine
    // side recovers these facts by resolving the real sample tables.
    "q81_mp4_frames" ->
      """WITH v AS (
        |  SELECT doc_id, 2 + doc_id % 4 AS w, 2 + doc_id % 3 AS h,
        |         2 + doc_id % 5 AS n
        |  FROM documents
        |),
        |px AS (
        |  SELECT v.doc_id,
        |         (v.doc_id * 7 + f.f * 13 + p.p * 3) % 256 AS b
        |  FROM v,
        |       LATERAL (SELECT unnest(range(0, v.n)) AS f) f,
        |       LATERAL (SELECT unnest(range(0, v.w * v.h * 3)) AS p) p
        |),
        |sums AS (
        |  SELECT doc_id, CAST(SUM(b) AS BIGINT) AS sum_px
        |  FROM px GROUP BY doc_id
        |),
        |firsts AS (
        |  SELECT v.doc_id,
        |         CAST(SUM((v.doc_id * 7 + f.f * 13) % 256) AS BIGINT)
        |           AS first_byte_sum
        |  FROM v, LATERAL (SELECT unnest(range(0, v.n)) AS f) f
        |  GROUP BY v.doc_id
        |)
        |SELECT v.doc_id, v.n AS n_frames, v.w AS width, v.h AS height,
        |       v.w * v.h * 3 AS frame_bytes, s.sum_px,
        |       fb.first_byte_sum, CAST(24 AS BIGINT) AS depth
        |FROM v
        |JOIN sums s ON v.doc_id = s.doc_id
        |JOIN firsts fb ON v.doc_id = fb.doc_id""".stripMargin,
    "q70_regional_revenue" ->
      s"""SELECT n_name,
         |       SUM(l_extendedprice * (1.0 - l_discount)) AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = '${RelationalQueries.RevenueRegion}'
         |GROUP BY n_name""".stripMargin,
    "q71_trailing_hour" ->
      """SELECT user_id, event_id, ts_ms,
        |       COUNT(*) OVER w AS n_1h,
        |       SUM(value) OVER w AS sum_1h
        |FROM (SELECT user_id, event_id,
        |             (epoch_ns(ts) // 1000000) AS ts_ms, value
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)"""
        .stripMargin,
    "q72_grouping_sets" ->
      """SELECT event_type, hour,
        |       CAST(GROUPING(event_type, hour) AS BIGINT) AS gid,
        |       COUNT(*) AS n_events, SUM(value) AS sum_value
        |FROM (SELECT event_type,
        |             (epoch_ns(ts) // 1000000) // 3600000 AS hour,
        |             value
        |      FROM events)
        |GROUP BY GROUPING SETS ((event_type), (hour), ())""".stripMargin,
    "q74_funnel_steps" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |         (epoch_ns(ts) // 1000000) AS ts_ms FROM events
         |), s AS (
         |  SELECT user_id, MIN(ts_ms) AS signup_ts
         |  FROM e WHERE event_type = 'signup' GROUP BY user_id
         |), c AS (
         |  SELECT e.user_id, MIN(e.ts_ms) AS click_ts
         |  FROM e JOIN s ON e.user_id = s.user_id
         |  WHERE e.event_type = 'click' AND e.ts_ms >= s.signup_ts
         |    AND e.ts_ms - s.signup_ts <= ${operators.EventsQueries.FunnelStepMs}
         |  GROUP BY e.user_id
         |), p AS (
         |  SELECT e.user_id, MIN(e.ts_ms) AS purchase_ts
         |  FROM e JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts_ms >= c.click_ts
         |    AND e.ts_ms - c.click_ts <= ${operators.EventsQueries.FunnelStepMs}
         |  GROUP BY e.user_id
         |)
         |SELECT s.user_id, s.signup_ts, c.click_ts, p.purchase_ts,
         |       p.purchase_ts IS NOT NULL AS completed
         |FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""
        .stripMargin,
    "q75_weighted_reservoir" ->
      s"""WITH x AS (
         |  SELECT doc_id, n_chars,
         |         ln((${operators.Sampling.mixedSql("doc_id")} % 1048576
         |             + 0.5) / 1048576.0) / n_chars AS key
         |  FROM documents WHERE n_chars > 0
         |)
         |SELECT doc_id, n_chars, key, rank FROM (
         |  SELECT doc_id, n_chars, key,
         |         row_number() OVER (ORDER BY key DESC, doc_id ASC)
         |           AS rank
         |  FROM x
         |) WHERE rank <= ${operators.Sampling.ReservoirK}""".stripMargin,
    "q78_shuffled_index" ->
      s"""SELECT doc_id, ${operators.Sampling.mixedSql("doc_id")}
         |         AS shuffle_key,
         |       row_number() OVER (
         |         ORDER BY ${operators.Sampling.mixedSql("doc_id")} ASC,
         |                  doc_id ASC) - 1 AS global_idx
         |FROM documents""".stripMargin,
    "q77_winsorize" ->
      s"""WITH e AS (SELECT event_type, value FROM events),
         |p AS (
         |  SELECT event_type,
         |         quantile_cont(value, ${operators.Profiling.WinsorLo})
         |           AS p_lo,
         |         quantile_cont(value, ${operators.Profiling.WinsorHi})
         |           AS p_hi
         |  FROM e GROUP BY event_type
         |)
         |SELECT e.event_type, COUNT(*) AS n,
         |       COUNT(*) FILTER (WHERE e.value < p.p_lo)
         |         AS n_clipped_low,
         |       COUNT(*) FILTER (WHERE e.value > p.p_hi)
         |         AS n_clipped_high,
         |       MIN(p.p_lo) AS p_lo, MIN(p.p_hi) AS p_hi,
         |       SUM(LEAST(GREATEST(e.value, p.p_lo), p.p_hi))
         |         AS sum_winsorized
         |FROM e JOIN p USING (event_type)
         |GROUP BY e.event_type""".stripMargin,
    "q76_fuzzy_names" ->
      """WITH v AS (SELECT DISTINCT p_name AS name FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
        |FROM v a JOIN v b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 1""".stripMargin,
    "q73_quantize_int8" ->
      """WITH x AS (
        |  SELECT vec_id, r.i,
        |         CAST(embedding[r.i + 1] AS DOUBLE) AS v
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(range(0, len(embedding))) AS i) r
        |), m AS (
        |  SELECT vec_id, MAX(ABS(v)) AS maxabs FROM x GROUP BY vec_id
        |)
        |SELECT x.vec_id, CAST(x.i AS INTEGER) AS i,
        |       CASE WHEN m.maxabs = 0 THEN 0
        |            ELSE CAST(ROUND(x.v * 127 / m.maxabs) AS INTEGER)
        |       END AS q
        |FROM x JOIN m ON x.vec_id = m.vec_id""".stripMargin,
    "q58_dup_spans" -> OracleSql.dupSpans,
    "q60_upsample" -> OracleSql.upsampleMixture,
    "q61_profile" -> OracleSql.numericProfile,
    "q79_profile_hll" -> OracleSql.numericProfileChecked,
    "q80_zscore_outliers" ->
      s"""WITH st AS (
         |  SELECT event_type, AVG(value) AS mean_value,
         |         STDDEV_SAMP(value) AS std_value
         |  FROM events GROUP BY event_type
         |)
         |SELECT e.event_type, COUNT(*) AS n,
         |       MIN(st.mean_value) AS mean_value,
         |       MIN(st.std_value) AS std_value,
         |       COUNT(*) FILTER (WHERE ABS(e.value - st.mean_value) >
         |         ${operators.Profiling.OutlierSigma} * st.std_value)
         |         AS n_outliers
         |FROM events e JOIN st USING (event_type)
         |GROUP BY e.event_type""".stripMargin,
    "q62_gap_fill" -> OracleSql.gapFillHourly,
    "q127_mad_outliers" ->
      s"""WITH med AS (
         |  SELECT event_type, quantile_cont(value, 0.5) AS med_value
         |  FROM events GROUP BY event_type
         |), dev AS (
         |  SELECT e.event_type, e.value, m.med_value,
         |         ABS(e.value - m.med_value) AS adev
         |  FROM events e JOIN med m USING (event_type)
         |), mad AS (
         |  SELECT event_type, quantile_cont(adev, 0.5) AS mad_value
         |  FROM dev GROUP BY event_type
         |)
         |SELECT d.event_type, COUNT(*) AS n,
         |       MIN(d.med_value) AS med_value,
         |       MIN(m.mad_value) AS mad_value,
         |       COUNT(*) FILTER (WHERE d.adev >
         |         ${operators.Profiling.RobustCut} * m.mad_value)
         |         AS n_outliers
         |FROM dev d JOIN mad m USING (event_type)
         |GROUP BY d.event_type""".stripMargin,
    "q63_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  ${operators.Layout.zValueSql("l_partkey", "l_suppkey")} AS z
         |FROM lineitem""".stripMargin,
    "q66_event_gaps" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         (epoch_ns(ts) // 1000000) AS ts_ms
        |  FROM events
        |), g AS (
        |  SELECT user_id,
        |         ts_ms - lag(ts_ms) OVER (
        |           PARTITION BY user_id
        |           ORDER BY ts_ms ASC, event_id ASC) AS gap
        |  FROM e
        |)
        |SELECT user_id, COUNT(*) AS n_gaps,
        |       MIN(gap) AS min_gap_ms, MAX(gap) AS max_gap_ms,
        |       CAST(SUM(gap) AS BIGINT) AS sum_gap_ms
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id""".stripMargin,
    "q65_cohort_retention" ->
      s"""WITH w AS (
        |  SELECT user_id, event_type,
        |         (epoch_ns(ts) // 1000000) //
        |           ${operators.EventsQueries.CohortWeekMs} AS week
        |  FROM events
        |), cohorts AS (
        |  SELECT user_id, MIN(week) AS cohort_week
        |  FROM w WHERE event_type = 'signup' GROUP BY user_id
        |), active AS (
        |  SELECT DISTINCT user_id, week FROM w
        |)
        |SELECT c.cohort_week,
        |       a.week - c.cohort_week AS weeks_since_signup,
        |       COUNT(DISTINCT c.user_id) AS n_active_users
        |FROM cohorts c JOIN active a ON c.user_id = a.user_id
        |WHERE a.week - c.cohort_week >= 0
        |GROUP BY 1, 2""".stripMargin,
    "q64_event_sequence" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |         (epoch_ns(ts) // 1000000) AS ts_ms
         |  FROM events
         |), c AS (
         |  SELECT user_id, ts_ms FROM e WHERE event_type = 'click'
         |), conv AS (
         |  SELECT c.user_id, c.ts_ms,
         |    EXISTS (SELECT 1 FROM e p
         |            WHERE p.user_id = c.user_id
         |              AND p.event_type = 'purchase'
         |              AND p.ts_ms >= c.ts_ms
         |              AND p.ts_ms <= c.ts_ms +
         |                ${operators.EventsQueries.SequenceWindowMs}) AS hit
         |  FROM c
         |)
         |SELECT user_id, COUNT(*) AS n_clicks,
         |       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_converted
         |FROM conv GROUP BY user_id""".stripMargin,
    "q59_heavy_hitters" ->
      s"""WITH t AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
         |), tt AS (
         |  SELECT token FROM t WHERE length(token) > 0
         |), tot AS (
         |  SELECT GREATEST(1, CAST(FLOOR(COUNT(*) *
         |    ${operators.TextAnalysis.HeavyFraction}) AS BIGINT)) AS thr
         |  FROM tt
         |)
         |SELECT token, COUNT(*) AS n_occurrences
         |FROM tt, tot
         |GROUP BY token, tot.thr
         |HAVING COUNT(*) >= tot.thr""".stripMargin,
    "q57_global_index" ->
      """SELECT doc_id, n_chars,
        |       CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
        |         - 1 AS global_idx
        |FROM documents""".stripMargin,
    "q56_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |       SUM(l_quantity) AS sum_qty,
        |       SUM(l_extendedprice) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin,
    "q49_mixture_resample" -> OracleSql.mixtureResample,
    // the custom operator's contract IS the window formulation — the
    // oracle runs it directly
    "q50_topk_operator" ->
      """WITH e AS (
        |  SELECT event_type, event_id, value FROM events
        |), r AS (
        |  SELECT event_type, event_id, value,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY value DESC, event_id ASC) AS BIGINT) AS rank
        |  FROM e
        |)
        |SELECT event_type, event_id, value, rank FROM r WHERE rank <= 3""".stripMargin,
    "q53_wire_source" ->
      s"""SELECT trip_id, total_amount,
         |       epoch_ms(CAST(pickup_datetime AS TIMESTAMP)) AS pickup_ms,
         |       epoch_ms(CAST(dropoff_datetime AS TIMESTAMP)) AS dropoff_ms
         |FROM $wireReadJson
         |WHERE type = 'trip' AND total_amount >= 5.0""".stripMargin,
    // identical oracle to q53 BY DESIGN: the protocol connector must
    // agree with the file connector and DuckDB on the same records
    "q82_kinesis_source" ->
      s"""SELECT trip_id, total_amount,
         |       epoch_ms(CAST(pickup_datetime AS TIMESTAMP)) AS pickup_ms,
         |       epoch_ms(CAST(dropoff_datetime AS TIMESTAMP)) AS dropoff_ms
         |FROM $wireReadJson
         |WHERE type = 'trip' AND total_amount >= 5.0""".stripMargin
  )
}
