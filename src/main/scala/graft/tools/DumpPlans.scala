package graft.tools

import java.nio.charset.StandardCharsets.UTF_8

/** Writes PLANS.md: formatted physical plans of headline queries, the
  * evidence trail for the scale-posture claims (pushdown, broadcast,
  * partial top-k, sort elision, codegen spans). */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    val interesting = Seq(
      ("q1_agg", "grouped aggregation — partial (map-side) HashAggregate before the one shuffle"),
      ("q17_in_subquery", "in sub-query — distinct value side broadcast, no corpus shuffle"),
      ("x2_dedup_minhash", "MinHash LSH — kernel signatures, single groupBy shuffle, codegen'd pair explode"),
      ("x6_ann_brute", "brute ANN — query-side broadcast + WindowGroupLimit partial top-k"),
      ("x16_sample_stratified", "stratified sample — Partial WindowGroupLimit before the exchange"),
      ("x19_text_vocab", "vocabulary — partial count agg + TakeOrdered, no global sort"),
      ("x21_decontam", "decontamination — kernel n-grams; distinct eval-gram side becomes the broadcast build side under AQE"),
      ("x96_decontam_index", "index-served decontamination — the eval gram derivation is a parquet SCAN of the artifact (no per-run explode/distinct over the eval corpus); train grams probe the sketch MAP-SIDE inside codegen before the exchange, so only contamination-density rows reach the exact rescue join (AQE broadcasts the suite-sized gram relation)"),
      ("x24_emb_quantize", "int8 quantization — map-only, zero exchanges"),
      ("x25_emb_outliers", "label outliers — partial avg before the (labels x dim) exchange, centroid broadcast back, per-label WindowGroupLimit"),
      ("x28_bloom_exclude", "bloom exclusion — map-only sketch probe over the corpus; only probe-positive rows reach the verifying anti-join"),
      ("x27_token_budget", "token budget — two-level prefix sum: parallel per-(source,shard) windows, tiny offset rollup broadcast back; no single-task source window"),
      ("x31_asof", "as-of join (below the segmentation gate at this SF) — union of both sides, ONE key shuffle, RunningWindowFunction last-non-null carry; no range-join explosion. Past ~2M estimated rows the auto path switches to the segmented plan shown under x31b"),
      ("x31b_asof_hot", "as-of join, SEGMENTED carry (explicit granule) — (key, granule) window over the union; the per-(key,granule) boundary is an INDEPENDENT narrow aggregate with map-side partial combine (latest right payload — deliberately not a consumer of the window branch, whose per-branch column pruning defeats AQE stage reuse); cross-granule carry window over the BOUNDED granule relation only, broadcast join back; a hot key's history spreads across granule tasks. Above the row gate with NO granule, the r18 auto tier MEASURES key skew and keeps the one-window carry on provably-uniform keys (103.5 s vs 284.6 s at 254M output rows, fingerprint-identical — ProfileAsofStages; tool removed, see af949c0)"),
      ("x31c_asof_window", "as-of join, one-window carry FORCED (strategy=window — what the measured tier picks on uniform keys) — union of both sides, ONE key shuffle, RunningWindowFunction last-non-null carry, no boundary aggregate, no carry join; same DuckDB ASOF oracle as x31"),
      ("x32_pii", "PII redaction — map-only regex passes inside one WholeStageCodegen span, zero exchanges"),
      ("x33_quality_topk", "quality top-k per source — Partial WindowGroupLimit keeps k rows per group map-side before the one exchange"),
      ("x38_bm25", "BM25 search — fused [dl, tf...] native kernel (one codegen'd token pass, no explode), one-row stats broadcast back, TakeOrderedAndProject top-k; two map-only corpus scans total"),
      ("x39_join", "enrichment equi-join — BroadcastHashJoin on the hinted dimension side; the fact side never shuffles"),
      ("x1_dedup_exact", "exact dedup — ONE hash aggregate with map-side min_by partial combine (each task collapses its slice of a duplicate class pre-exchange); no fingerprint window, no skewed single-task stage"),
      ("x30_chunk_dedup", "chunk dedup — keep-first as groupBy(chunk).min(struct(id, idx)) with partial combine; a mass-repeated chunk costs one row per mapper, not one task"),
      ("x40_dup_grams", "duplicated-span stats — kernel-deduped grams, per-gram count AGGREGATE (map-side combine) joined back (AQE-broadcastable); no gram window, one id aggregation exchange"),
      ("x49_gram_novelty", "gram novelty — first-owner min(id) as a per-gram aggregate joined back; same skew-safe shape as x40"),
      ("x54_skew_dupgrams", "skew stress — x40's shape over an 80%-duplicate corpus; the hot gram partial-combines per mapper instead of funneling into one task"),
      ("x55_line_dedup", "line dedup — keep-first as groupBy(line).min(struct(id, idx)) with partial combine; blank lines bypass the aggregate"),
      ("x56_line_quality", "line-quality filter — map-only: split + higher-order filter inside the scan projection, ZERO exchanges"),
      ("x57_sample_weighted", "weighted sample — Efraimidis-Spirakis keys, TakeOrderedAndProject partial top-k, no global sort"),
      ("x58_text_chunks", "overlapping chunking — token array materialized once, windows slice from it, explode is the only expansion, zero exchanges"),
      ("x59_oov_rate", "OOV rate — k-bounded vocabulary broadcasts, membership is a map-side broadcast join, corpus never shuffles on tokens"),
      ("x41_bm25_batch", "batch BM25 — corpus explode prefiltered by the broadcast query-term set BEFORE the single (term, doc) exchange; df/stats/query-terms broadcast back; per-query WindowGroupLimit top-k"),
      ("q13_distinct", "distinct over all user columns — hash AGGREGATE with map-side partial combine (each task reduces to <= |combinations| rows pre-exchange), not a full-data window shuffle"),
      ("x44_tfidf_keywords", "TF-IDF keywords — one (doc, term) exchange with partial count combine; df as a per-term AGGREGATE of the postings joined back (broadcast build, AQE stage reuse dedupes the shared postings exchange — no Zipf-head term window), one-row N broadcast, per-doc WindowGroupLimit top-k"),
      ("x45_quality_rules", "quality rules — map-only: every rule evaluates inside the scan's codegen span, zero exchanges"),
      ("x46_unigram_nll", "unigram NLL — one token exchange to the vocabulary join, one-row total broadcast, per-doc ordered fold; AQE may broadcast the vocab when it fits"),
      ("x47_range_join", "range join — time-granule bucketing turns the interval predicate into an EQUI-join (hash shuffle or AQE broadcast), no BroadcastNestedLoop"),
      ("x48_span_scrub", "duplicated-span scrub — per-gram occurrence counts as a partial-combine aggregate joined back (the >= 2 predicate pushes into the aggregate side), dup-only per-doc rollup, map-side token filter rewrite"),
      ("x50_token_divergence", "token KL divergence — (group, token) partial-combine aggregation, corpus marginals as windows over the same lineage, one-row total broadcast, token-ordered fold"),
      ("x61_semantic_dedup", "SemDeDup — map-only fixed-centroid assignment fused with the hyperplane signatures (one corpus pass, no quantizer job), cluster id folded into every band's bucket key, ONE (band, bucket) exchange, anti-join drop; no cross-cluster candidate is ever generated"),
      ("x62_dedup_keep_best", "keep-best collapse — bounded label propagation over the PAIRED ids only, per-component argmax as two partial-combine aggregates over that pairs-sized relation, one anti-join back to the corpus; no corpus-wide window"),
      ("x63_interval_join", "interval attribution — the horizon window rides the range join's granule bucketing: plain equi-join on (key, granule) with the exact interval predicate alongside, partial-combine rollup per anchor; no BroadcastNestedLoop"),
      ("x63b_interval_join_left", "LEFT interval attribution — the SAME single granule-bucketed join as x63 with anchors as the preserved points side (the interval predicate is symmetric); no anti-join, no second execution of the join subtree"),
      ("x64b_funnel_hot", "hot-entity funnel — k-1 key joins each against a one-row-per-entity left side + k partial-combining min aggregates; an 80%-hot user's step-event fan-out collapses map-side, no windows, no per-entity history materialized"),
      ("x65_repetition", "Gopher repetition signals — entirely MAP-ONLY: line stats and gram char-fractions as array folds over sorted runs inside the scan projection; the only exchange is the output orderBy"),
      ("x66_minhash_index", "index-served incremental MinHash — the corpus side is a bare (id, sig) parquet SCAN banded in place (no shingle/signature lineage, ~numHashes longs per doc read); downstream is the identical single (band, bucket) exchange; the exact-verify joins touch corpus text only for the id-bounded candidates"),
      ("x67_vocab_sketch", "certified vocabulary sketch — ONE narrow mapPartitions summarization (runs once: the Θ sentinel rides the single TakeOrdered instead of a scalar branch, whose pushed-down filters would split the exchange — the x63b stage-reuse lesson), exchange bounded at capacity+1 rows per partition whatever the vocabulary, Window over the limit-bounded k+1 rows only"),
      ("x69_retention", "cohort retention — ONE user-keyed HashAggregate in bounded state (RetentionMaskExpr: per-user min period + offset bitmask in two fixed-width buffer slots, map-side partial combine), so the single exchange carries 16-byte user states, never the DISTINCT (user, period) pair relation (513M pairs at 1.28B, where the old shape's wall was 152.3 s against 35.7 s for this one — ProfileRetentionStages; tool removed, see af949c0); the mask explodes to <= maxOffset+1 cells per user and the cell counts partial-combine; no join, no window, no COUNT(DISTINCT)"),
      ("x69b_retention_wide", "retention past the mask word (maxOffset > 62) — the pair-shape fallback: DISTINCT (user, period) map-side-combined, cohort = min(period) window over the user-partitioned PAIR relation (bounded per-user partitions: at most span/period distinct periods), cell counts partial-combine; one scan, no join (the r18 window rewrite of the old two-scan join form)"),
      ("x70_vocab_by_source", "per-group vocabulary — one (group, token) exchange with partial count combine; the rank<=k filter plans as WindowGroupLimit over the AGGREGATED (vocabulary-bounded) relation, never a window over raw token occurrences"),
      ("x75_common_line_scrub", "corpus-frequency line scrub — document frequency as DISTINCT (line, doc) partial-combining aggregation (a boilerplate line repeated across a mapper's docs collapses pre-exchange), frequent head filtered aggregate-side and anti-joined (AQE-broadcastable: the head is tiny by construction), dedupLines-shaped per-doc rebuild; no COUNT(DISTINCT) Expand anywhere"),
      ("x80_vocab_growth", "vocabulary growth curve — the running distinct-count as min(id)-per-token: ONE map-side-combined token exchange (a boilerplate token is one row per mapper), bucket aggregate over the vocabulary-sized relation, cumulative window single-task over BUCKET rows only; no sequential scan, no corpus-wide window"),
      ("x81_token_spectrum", "token-frequency spectrum — token counts are the only corpus-sized exchange (partial combine); count-of-counts re-aggregates the vocabulary-sized relation; the DESC cumulative window runs over the O(sqrt N)-row spectrum"),
      ("x82_budget_select", "quality-ranked token budget — the crossing point is ONE collected row, so every consumer is a LITERAL pushed into the scan: fully-in bands are a map-only `priority > boundary` filter (PushedFilters in the scan below — losers never leave parquet); only the ONE boundary band pays a prefix sum, as parallel per-(id div shardSize) windows with a tiny offset rollup against the literal remaining budget. The classification that found the crossing ran exactly once at build (collect ≤ 1 row) and is itself a TWO-LEVEL prefix over sampler-balanced priority range-shards (repartitionByRange on priority DESC, spark_partition_id as the monotone shard key): per-shard running prefixes are windows PARTITIONED by shard, and the only unpartitioned window rolls up ≤ nShards one-row-per-shard totals sorted by SHARD ID — scale-safe under raw continuous classifier doubles, no global (priority, id) sort anywhere"),
      ("x82b_budget_select_skew", "budget selection, all-boundary worst case — every doc shares one priority, so the fully-in branch is empty and the ENTIRE selection runs the shard-prefix path: parallel per-(id div 100) windows (Sort+Window partitioned by __shard, never a global sort), the tiny per-shard offset rollup broadcast back, literal remaining budget in the filter"),
      ("x83_mix_drift", "source-mix drift (PSI) — each side collapses map-side to a per-value count aggregate; totals ride one-row broadcasts; the full-outer join runs over the two tiny aggregates, corpus rows never shuffle"),
      ("x84_audit_pairs", "borderline audit queue — TakeOrderedAndProject over the pair relation (per-partition partial top-k, no global pair sort); both text attachments are broadcast joins of the k-row queue against the corpus scan"),
      ("x86_rate_anomaly", "event-rate anomaly — raw events collapse map-side to (window, type) counts, the ONLY corpus-sized exchange; the spine (span x types) generates in BOUNDED SLABS from a one-row broadcast (a slab-index explode exchanges on (type, slab), then per-slab sequences of ≤ 8192 windows — no task ever materializes a span-sized array, guard at 1B windows); the trailing-moments window runs over the bounded count relation partitioned by type, never raw events"),
      ("x87_budget_by_source", "per-source budget selection — the per-source crossing rows came back in ONE bounded collect at build (classification = the x82 range-shard prefix vectorized over the composite (source, priority DESC) key, so a source spans contiguous shards and every window is partitioned by source and/or shard; the rollup consumes ≤ nShards rows per source); both remaining branches join the tiny broadcast boundary map: fully-in rows map-only, boundary tie groups through per-(source, id-shard) windows with a per-source offset rollup; no (source, priority, id) global or per-source single-task sort anywhere"),
      ("x90_dedup_weighted", "duplication-proof weighted near-dup pairing — the exact collapse is ONE map-side-combining fingerprint aggregate (a mass-duplicated document is one row per mapper before the shuffle); only REPRESENTATIVES enter the shingle/signature lineage and the single (band, bucket) exchange, so pair output is per near-dup RELATION, never per expanded copy; class multiplicities ride the banding payload struct — no post-hoc id join re-attaches them"),
      ("x92_simhash_weighted", "x90's weighting for the SimHash family — the same one-aggregate collapse, then representatives alone compute signatures and exchange on (segment, value); multiplicities in the payload struct, hamming verify over rep pairs only"),
      ("x93_embcos_weighted", "weighted embedding-cosine near-dup — classes collapse on the VECTOR fingerprint in one map-side-combining aggregate; only representative vectors enter the LSH bucketing exchange; cosine verify + both class sizes on rep pairs"),
      ("x95_split_leakfree", "leakage-free split — ONE exchange total: the corpus hash-partitions by the text fingerprint for the window-min representative; the split label is a map-side CASE over the rep hash, so the guard costs one shuffle and singletons keep the plain map-only split's label"))

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the scale-posture claims\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` at sf0.01 (plans are shape-\n")
    sb.append("identical at any SF — except the stats-gated segmented carries,\n")
    sb.append("where the small-SF plan is the one-window form and x31b shows\n")
    sb.append("the at-scale segmented form via its explicit granule). Things\n")
    sb.append("to check in each plan: where the exchanges are, what got broadcast, what\n")
    sb.append("aggregates partially before shuffling, and how wide the\n")
    sb.append("WholeStageCodegen spans are.\n")

    interesting.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(7000))
      sb.append("\n```\n")
    }

    // the server's unordered-query sort elision
    val csv = "a,b\n" + (1 to 5000).map(i => s"$i,v$i").mkString("\n")
    val parsed = graft.sources.Ingest.fromCsv(spark, csv)
    val stored = parsed.repartitionByRange(4, parsed("__row_id__"))
      .sortWithinPartitions("__row_id__")
    stored.persist(); stored.count()
    val q = graft.engine.QueryEngine.run(stored, """{"where": [">", "a", 100]}""").df
    sb.append("\n## unordered server query over the cached range-partitioned layout\n\n")
    sb.append("pandas-order read: NO Sort and NO Exchange above the cache scan —\n")
    sb.append("the orderBy(__row_id__) the engine issues is satisfied by the\n")
    sb.append("stored layout and elided by the planner.\n\n```\n")
    sb.append(q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).take(4000))
    sb.append("\n```\n")

    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes(UTF_8))
    println("wrote PLANS.md")
    spark.stop()
  }
}
