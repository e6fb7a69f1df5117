package graft

/** Plan audit: dumps formatted physical plans for the headline
  * queries and asserts the scale-critical plan properties
  * (filter/column pushdown, broadcast joins, TakeOrdered top-k).
  *
  * Usage: runMain graft.Explain [sfDir] [outFile]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/explain.md")
    val spark = LocalSpark.session(logLevel = "ERROR")

    val audits: Seq[(String, Seq[String])] = Seq(
      // query -> plan substrings that MUST appear
      "q01_pricing_summary" -> Seq("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate", "HashAggregate"),
      "q02_region_revenue" -> Seq("BroadcastHashJoin", "ReadSchema"),
      "q03_top_orders" -> Seq("TakeOrderedAndProject"),
      "q06_selective_filter" -> Seq("PushedFilters", "l_discount"),
      "v01_knn_facts" -> Seq("BroadcastNestedLoopJoin", "TakeOrderedAndProject"),
      "h02_entity_neighbours" -> Seq("BroadcastHashJoin"),
      "d02_minhash_lsh" -> Seq("BroadcastHashJoin"),
      "d04_ngram_jaccard" -> Seq("BroadcastHashJoin", "HashAggregate"),
      "v06_knn_agg" -> Seq("ObjectHashAggregate"),
      "q11_asof_join" -> Seq("Window"),
      "q05_semi_join" -> Seq("LeftSemi"),
      // q04/q09: every window partitions on the HIGH-CARDINALITY key
      // — an empty-spec window would serialize the corpus through
      // ONE task (Exchange SinglePartition), the classic silent
      // scale-killer
      "q04_window_rank" -> Seq("Window", "!Exchange SinglePartition"),
      "q09_events_sessionize" -> Seq("Window", "!Exchange SinglePartition"),
      // q08: tumbling buckets are a plain keyed agg — no window
      // machinery needed (time_bucket computes map-side)
      "q08_events_tumbling" -> Seq("HashAggregate", "!Window"),
      "q12_pivot" -> Seq("HashAggregate", "!Exchange SinglePartition"),
      // q13b: the GK percentile sketch must PARTIAL-aggregate
      // (TypedImperativeAggregate) — never a per-group row sort
      "q13b_group_stats_approx" -> Seq("ObjectHashAggregate"),
      "h04_facts_intersection" -> Seq("LeftSemi", "!CartesianProduct"),
      // splitters/multimodal: codegen'd HOF + explode only — no
      // join, no typed object pipeline in the hot path
      "s02_split_paragraph" -> Seq("Generate", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      "m02_frame_sample" -> Seq("Generate", "!DeserializeToObject"),
      "t01_lang_id" -> Seq("!HashAggregate", "!Generate", "!Exchange SinglePartition"),
      // v02/d05 are the DOCUMENTED exact anchors: the all-pairs BNLJ
      // IS their semantics (v08/d06 are the blocked scale paths) —
      // pinned so a "fix" can't silently change what they anchor
      // t28: the manifest agg is keyed (shard, source) — never a
      // single-partition funnel; the prefix sum itself is the
      // two-pass RDD form (ExistingRDD leaf), audited in
      // ShardWriterSpec's partitioning-invariance test
      "t28_shard_manifest" ->
        Seq("HashAggregate", "!CartesianProduct", "!Exchange SinglePartition"),
      "v02_knn_batch" -> Seq("BroadcastNestedLoopJoin"),
      "d05_embed_neardup" -> Seq("BroadcastNestedLoopJoin"),
      // v08: the scale path must NOT be the anchor's shape
      "v08_knn_batch_ann" ->
        Seq("ObjectHashAggregate", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      "v04b_hybrid_intersection_indexed" ->
        Seq("PartitionFilters", "cluster", "LeftSemi"),
      // e01 must rank through the map-side-combining native TopKAgg
      // (no window sort of the full scored stream, no driver collect)
      "e01_knn_classify" -> Seq("ObjectHashAggregate"),
      // e05: the linear classifier's whole point is NO pair join of
      // any kind — classify is a narrow projection over broadcast
      // centroid literals (the only agg ran at train time)
      "e05_centroid_classify" ->
        Seq("!BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin",
          "!BroadcastHashJoin", "dotproduct"),
      // e01b (r15 eager re-base, the e01c convention): the entry now
      // scopes its corpus/coded caches and pins its O(n) rows
      // executor-side, so the audited outer plan is the checkpoint's
      // RDD scan; the signature-pass shape (codegen'd xor+popcount,
      // TopKAgg partials, no cartesian) is pinned by ScaleSwapSpec
      // on the inner (lazy) plan
      "e01b_knn_classify_ann" -> Seq("Scan ExistingRDD", "!LocalTableScan"),
      // e01c: the entry's O(corpus) rows are pinned EXECUTOR-side
      // (localCheckpoint — cache-release without a driver collect),
      // so the audited outer plan is the checkpoint's RDD scan, NOT a
      // driver-built LocalTableScan; the cell-bounded popcount shape
      // (cluster equi-join, TopKAgg partials, no all-pairs join) is
      // pinned by ScaleSwapSpec on the inner (lazy) plan
      "e01c_knn_classify_ivfbq" -> Seq("Scan ExistingRDD", "!LocalTableScan"),
      // d06/h08: candidate/probe joins, never a corpus-side broadcast
      "d06_embed_neardup_ann" -> Seq("HashAggregate"),
      // t27: the semantic screen must block on the narrow LSH cell
      // key (train cells ⋈ eval cells) — never train × eval on full
      // vectors; the per-doc rollup partial-aggregates
      "t27_semantic_decontaminate" ->
        Seq("HashAggregate", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      "h08_neighbour_facts" -> Seq("BroadcastHashJoin", "sort_array"),
      "v07_ann_ivf" -> Seq("TakeOrderedAndProject"),
      // v03b: the entity filter must apply to the IVF artifact's
      // PARTITION-PRUNED probe sliver (storage.py:304-337 semantics),
      // with the bounded candidate set broadcast into the semi-join —
      // never a full-corpus cosine scan
      "v03b_hybrid_union_indexed" ->
        Seq("PartitionFilters", "cluster", "LeftSemi", "TakeOrderedAndProject"),
      // v16 (r16, VERDICT r15 #1): batch k-NN THROUGH the persisted
      // IVF artifact — the probed-cell union must reach the scan as a
      // PARTITION filter (non-probed cells never open a file), with
      // TopKAgg partials and no all-pairs shape anywhere; the probe
      // relation pins executor-side (Scan ExistingRDD)
      "v16_knn_batch_ivf_persisted" ->
        Seq("PartitionFilters", "cluster", "ObjectHashAggregate",
          "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // v16b (r17, VERDICT r16 #5): the ORACLE anchor through the
      // SAME persisted artifact — probe-all by construction, so the
      // partition filter covers every cell, but the kernel shape
      // (keyed scoring join + TopKAgg partials, no all-pairs
      // broadcast) must match v16's, never degenerate to v02's BNLJ
      "v16b_knn_batch_ivf_probeall" ->
        Seq("ObjectHashAggregate", "!CartesianProduct",
          "!BroadcastNestedLoopJoin"),
      // v17 (r17): the compressed batch rung — the probed-cell union
      // must reach the CODE scan as a partition filter (M ints + one
      // norm per vector streamed, the rung's point), TopKAgg pools,
      // no all-pairs shape
      "v17_knn_batch_ivfadc" ->
        Seq("PartitionFilters", "cluster", "ObjectHashAggregate",
          "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // v17b (r17): the compressed path's ORACLE anchor — probe-all,
      // so the partition filter covers every cell, but the ADC kernel
      // shape (keyed scoring join + TopKAgg pools, no all-pairs
      // broadcast) must match v17's, never degenerate to v02's BNLJ
      "v17b_knn_batch_ivfadc_probeall" ->
        Seq("ObjectHashAggregate", "!CartesianProduct",
          "!BroadcastNestedLoopJoin"),
      // q13: exact percentile is a TypedImperativeAggregate — must
      // partial-aggregate (no row-sort of the whole table)
      "q13_group_stats" -> Seq("ObjectHashAggregate"),
      // t07: only the top 20 rows may cross to the driver
      "t07_top_tokens" -> Seq("TakeOrderedAndProject", "HashAggregate"),
      // t07b (r13 two-pass): the RETURNED plan is the certified pass-2
      // aggregation pinned to executor blocks (the sketch pass runs
      // eagerly before it); only the top k rows cross at the end
      "t07b_top_tokens_sketch" ->
        Seq("Scan ExistingRDD", "TakeOrderedAndProject"),
      // h09: the 2-hop frontier expansion dedups reached entities via
      // anti-join, never collecting frontiers to the driver
      "h09_khop_neighbours" -> Seq("LeftAnti", "HashAggregate"),
      // t08: top-gram counts explode then hash-aggregate with map-side
      // partials (never per-row O(len^2) HOF counting)
      "t08_repetition" -> Seq("Generate", "HashAggregate"),
      // t09: gram-key equi-join + distinct aggregation; the eval side
      // is joined, not collected
      "t09_decontaminate" -> Seq("Generate", "HashAggregate"),
      // t10: scan-speed predicate over a PRUNED schema — the filter
      // needs only doc_id and lang, text must not be read
      "t10_stratified_sample" -> Seq("ReadSchema: struct<doc_id:bigint,lang:string>"),
      // t25: ONE codegen'd HOF projection per doc (the whole merge
      // chain runs inside the lambda) — no explode, no join, no agg,
      // and only (doc_id, text) read
      "t25_bpe_encode" -> Seq("ReadSchema: struct<doc_id:bigint,text:string>",
        "!Generate", "!HashAggregate", "!BroadcastHashJoin", "!SortMergeJoin"),
      // t26: per-source fractions broadcast back onto the scan — the
      // corpus never shuffles for the mix decision
      "t26_source_mixture" ->
        Seq("BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"),
      // t11: the prefix sum runs as an RDD two-pass (scan of the
      // offset-adjusted partitions), final presentation sort only
      "t11_pack_sequences" -> Seq("MapPartitionsRDD", "rangepartitioning"),
      // v09: the one-shot entry returns its k rows MATERIALIZED on
      // the driver (the r7-ADVICE cache-release fix, survivable
      // across executor loss), so the outer plan is a local relation;
      // the inner TakeOrderedAndProject ADC pipeline is audited on
      // the persisted-index serving path instead (HippoDbSpec/
      // VectorSpec pin VectorIndex.annPq's plan)
      "v09_ann_pq" -> Seq("LocalTableScan"),
      // t12: vocab + per-doc reductions partial-aggregate map-side;
      // the scoring join is keyed by token (never assumed broadcast)
      "t12_unigram_logprob" -> Seq("HashAggregate"),
      // d10 (r8 capped shape): map-side-combining df count, then pair
      // emission from BOUNDED posting lists via the typed flatMap —
      // the plan must carry the object pipeline (DeserializeToObject)
      // and hash aggregation, and NO self-join key that can explode
      "d10_winnow_pairs" -> Seq("HashAggregate", "DeserializeToObject"),
      // e03: the per-cluster quota rank must push into the window
      // operator (WindowGroupLimit) — state bounded by the quota,
      // not the cluster size
      "e03_cluster_sample" -> Seq("WindowGroupLimit"),
      // d11: canonical choice = ONE rank window keyed by the narrow
      // span hash; the splice is the typed map (object pipeline)
      "d11_span_dedup_apply" -> Seq("Window", "DeserializeToObject"),
      // d12: bloom prefilter feeds an exact verify join + per-doc
      // distinct tally — partial aggregation must be map-side
      "d12_bloom_span_incremental" -> Seq("HashAggregate"),
      // h10: each power iteration is an edge-keyed equi-join + a
      // map-side-combining agg — no driver-side model, no cartesian
      "h10_entity_rank" -> Seq("HashAggregate"),
      // d13: batch⋈history candidates on the narrow cell key, exact
      // verify, per-batch-doc rollup — never batch × history
      "d13_incremental_neardup" -> Seq("HashAggregate"),
      // t14: NFC runs as the NATIVE expression inside one codegen'd
      // projection over a PRUNED 2-column scan (text must be the
      // only payload read); no object pipeline, no shuffle except
      // the final presentation sort
      "t14_normalize" -> Seq("nfcnormalize",
        "ReadSchema: struct<doc_id:bigint,text:string>"),
      // p03: the version diff's heavy legs are gram-keyed aggs and
      // anti-joins (added/removed, novelty) — the only BNLJ-shaped
      // joins are the benign 1-row report cross-joins
      "p03_corpus_diff" -> Seq("HashAggregate", "LeftAnti"),
      // p01: the five curation stages fuse into ONE plan — the
      // native-NFC normalize projection, the digest-keyed dedup rank
      // window, the map-side-combining gram join and the anti-join
      "p01_curation_pipeline" -> Seq("nfcnormalize", "Window",
        "HashAggregate", "LeftAnti"),
      // t15: bigram vocab + prefix totals partial-aggregate
      // map-side; scoring joins keyed by gram (never assumed
      // broadcast — a production bigram vocab is billions of rows)
      "t15_bigram_logprob" -> Seq("HashAggregate"),
      // v10: like v09, the one-shot entry materializes its k rows on
      // the driver (cache-release contract); the serving plan —
      // partition-pruned code scan + TakeOrderedAndProject pool — is
      // pinned on the persisted path by HippoDbSpec's IVFADC test
      "v10_ann_ivfpq" -> Seq("LocalTableScan"),
      // h11: each propagation round is one edge-keyed equi-join plus
      // two map-side-combining aggs (the per-(node,label) count and
      // the min-struct argmax) — no window, no driver-side labels
      "h11_communities" -> Seq("HashAggregate"),
      // t16: per-lang ntile runs as the RDD two-pass rank over ONE
      // range shuffle (no Window.partitionBy(lang) funnel) — the t11
      // plan shape: the scoring aggs live inside the RDD lineage, so
      // the printed plan shows the offset-adjusted partition scan
      "t16_ppl_buckets" -> Seq("MapPartitionsRDD", "rangepartitioning"),
      // q14: Spark expands the three grouping sets in ONE Expand node
      // feeding one hash aggregation — never a per-set rescan of the
      // fact table
      "q14_grouping_sets" -> Seq("Expand", "HashAggregate"),
      // h12: each BFS round is an edge-keyed equi-join, a visited-set
      // anti-join and a map-side-combining min(path) agg — frontiers
      // never collect to the driver, nothing cartesian
      "h12_path_bfs" -> Seq("LeftAnti", "HashAggregate"),
      // t17: tf/df are map-side-combining aggs; the top-3 rank must
      // push into the window operator (WindowGroupLimit) so tasks
      // emit at most 3 rows per doc; scoring join keyed by term
      "t17_tfidf" -> Seq("WindowGroupLimit", "HashAggregate"),
      // h13: wedges close against the forward edge set via a
      // LeftSemi equi-join; per-vertex counts explode + partial-agg
      "h13_triangles" -> Seq("LeftSemi", "HashAggregate"),
      // q15: the bucketized range join MUST be an EQUI-join keyed
      // (event_type, bucket) with the Δ predicate as residual — at
      // sf0.01 stats pick BroadcastHashJoin, at scale SortMergeJoin;
      // the audit pins the KEYS, not the strategy — and the naive
      // per-type nested loop must never appear; the burst guard's
      // heavy-key exclusion runs as a broadcast anti-join
      "q15_time_proximity" -> Seq("Left keys [2]: [event_type", "LeftAnti",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // h14: candidates generate ONLY from the fact_id-keyed
      // self-join (bounded per-key fan-out); pair counts and both
      // degree sides partial-aggregate map-side; nothing all-pairs
      "h14_entity_jaccard" -> Seq("HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // t18: the per-lang top-R rank must push into the window
      // operator (WindowGroupLimit, the t17 pattern) so map tasks
      // emit at most R rows per language before the shuffle
      "t18_zipf_fit" -> Seq("WindowGroupLimit", "HashAggregate"),
      // h16: the pair relation is the h14 fact_id-keyed shape; the
      // fixpoint legs are localCheckpoint-materialized (the
      // assembled plan scans their RDDs — lineage cut per round by
      // design); nothing all-pairs
      "h16_components" -> Seq("HashAggregate", "Scan ExistingRDD",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // q18: the 4-cell hop replication is ONE Expand feeding the
      // same map-side-combining agg as q08 — constant fan-out, no
      // join, never a per-window rescan
      "q18_events_sliding" -> Seq("Expand", "HashAggregate",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // v11: the v01 scan shape (single query row broadcast via BNLJ
      // — benign by construction) with the radius filter in the same
      // codegen'd pass; no top-k limit, so a Sort presents
      "v11_range_search" -> Seq("BroadcastNestedLoopJoin",
        "!CartesianProduct"),
      // d16: (source, gram) dedups map-side BEFORE the gram-keyed
      // self-join (per-key fan-out bounded by the source dim);
      // totals/pair counts partial-aggregate
      "d16_source_overlap" -> Seq("HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // q17: first-event min and the user-week dedup both
      // partial-aggregate map-side; the cohort join is user_id-keyed
      // against a reduced side — nothing event × event
      "q17_cohort_retention" -> Seq("HashAggregate", "partial_min",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // q16: every funnel stage reduces BEFORE it joins (min-agg per
      // user, then a user_id-keyed join against one-row-per-user) —
      // partial aggregation map-side, nothing event × event
      "q16_event_funnel" -> Seq("HashAggregate", "partial_min",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // h15: the h14 candidate shape + a broadcast 1-row total — the
      // scalar attaches as a BNLJ against a SINGLE-ROW broadcast (the
      // t12 lazy-total convention; benign by construction), so only
      // the cartesian is forbidden
      "h15_entity_pmi" -> Seq("HashAggregate", "partial_count",
        "!CartesianProduct"),
      // q19: REDUCE-BEFORE-WINDOW — raw events partial-aggregate
      // map-side into the (type × hour) grid, and only the grid
      // enters the rolling-frame Window; nothing joins at all
      "q19_rolling_anomaly" -> Seq("Window", "HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // h17: wedges generate from pivot-keyed equi-joins with the
      // hub-cap filter upstream; pair scores partial-aggregate
      // map-side; the adjacency exclusion is a LeftAnti — nothing
      // all-pairs anywhere
      "h17_adamic_adar" -> Seq("LeftAnti", "HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // t19: one explode → map-side-combining (doc, token) count →
      // doc-keyed reduction; the docs re-attach is an equi left join
      "t19_token_entropy" -> Seq("Generate", "HashAggregate",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // d14: (doc, gram) dedup + df-band + candidate pairing + the
      // full-set recount all partial-aggregate on narrow gram/pair
      // keys; nothing all-pairs, nothing broadcast-O(corpus)
      "d14_containment" -> Seq("HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // t20: the md5 fold + A-ES key is scan-speed codegen over a
      // PRUNED 3-column scan (text never read); the top-k is
      // TakeOrderedAndProject — no shuffle, no corpus sort
      "t20_weighted_sample" -> Seq("TakeOrderedAndProject",
        "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>",
        "!Exchange", "!CartesianProduct"),
      // v12: like v09/v10 the entry materializes its k greedy picks
      // on the driver (bounded P-row pool); the DISTRIBUTED stage is
      // the pool cut, which is exactly v01's audited scan shape
      // (single-row broadcast BNLJ + TakeOrderedAndProject)
      "v12_mmr" -> Seq("LocalTableScan"),
      // m05 (oracle entry = per-doc band signatures): one typed map
      // over a PRUNED 2-column scan; the pair join is audited
      // separately below (m05_phash_pairs) on the phashPairs surface
      "m05_phash" -> Seq("ReadSchema: struct<doc_id:bigint,text:string>",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // q20: the lead() window partitions on HIGH-CARDINALITY user_id
      // (never a single-partition window over the event stream); the
      // transition tally partial-aggregates onto the tiny type² key
      // space — nothing joins
      "q20_path_transitions" -> Seq("Window", "HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // q21: the bucket key computes map-side over a PRUNED 1-column
      // scan; one shuffle onto ~B bucket keys, windows over B rows
      "q21_value_histogram" -> Seq("ReadSchema: struct<l_extendedprice:double>",
        "HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // q22: the per-column unpivot is ONE stack Generate over ONE
      // scan (a per-column UNION would rescan the 100 TB table C
      // times); the distinct-count dedups on (col, val) keys with a
      // map-side partial BEFORE its shuffle
      "q22_data_profile" -> Seq("Generate", "HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin", "!Union"),
      // t21: every Gopher signal is a higher-order function inside
      // one projection over the PRUNED 2-column scan — no explode
      // (word rows never materialize), no join, no UDF object pipeline
      "t21_gopher_quality" -> Seq("ReadSchema: struct<doc_id:bigint,text:string>",
        "!Generate", "!CartesianProduct", "!BroadcastNestedLoopJoin",
        "!DeserializeToObject"),
      // t22: one explode → per-doc distinct + gram-keyed min both
      // partial-aggregate map-side; the re-attach is a gram-keyed
      // equi-join — nothing all-pairs
      "t22_gram_novelty" -> Seq("Generate", "HashAggregate", "partial_min",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // q24: every funnel stage reduces BEFORE its user_id-keyed
      // join (q16's shape); the deadline is a residual predicate on
      // the same join — no new shuffle, nothing event × event
      "q24_window_funnel" -> Seq("HashAggregate", "partial_min",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // p02: three 1-row aggregates cross-joined (single-row
      // broadcasts — the h15/t12 lazy-total convention, so only the
      // cartesian is forbidden); everything partial-aggregates
      "p02_corpus_report" -> Seq("HashAggregate", "partial_count",
        "!CartesianProduct"),
      // m06: frame explode + histogram HOFs in one codegen'd pass,
      // then ONE lag window keyed by high-cardinality doc_id —
      // no join, no typed object pipeline
      "m06_scene_cuts" -> Seq("Generate", "Window",
        "!CartesianProduct", "!BroadcastNestedLoopJoin", "!DeserializeToObject"),
      // q23: q09's two session windows + q20's lead, ALL keyed on
      // high-cardinality user_id; tally and normalization on the
      // tiny type² space — nothing joins
      "q23_session_paths" -> Seq("Window", "HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // t23: history reduces to DISTINCT grams BEFORE the gram-keyed
      // anti-join (at scale a persisted artifact); per-batch-doc
      // rollup partial-aggregates — never a history rescan per doc
      "t23_incremental_novelty" -> Seq("Generate", "LeftAnti", "HashAggregate",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // e04: one narrow typed map over broadcast centroids + the
      // k-keyed agg — the corpus is never collected
      "e04_silhouette" -> Seq("DeserializeToObject", "HashAggregate",
        "!CartesianProduct"),
      // h19: each PPR round is the h10 shape (edge-keyed equi-join
      // + map-side-combining agg) plus a full-outer against the
      // |S|-row seed relation — nothing cartesian, nothing collected
      "h19_personalized_rank" -> Seq("HashAggregate", "FullOuter",
        "!CartesianProduct"),
      // s05: one codegen'd HOF projection + one explode over the
      // PRUNED 2-column scan — no join, no aggregation anywhere
      "s05_split_token_window" -> Seq("Generate",
        "ReadSchema: struct<doc_id:bigint,text:string>",
        "!CartesianProduct", "!BroadcastNestedLoopJoin", "!HashAggregate"),
      // h18: entity-keyed degree agg then the tiny degree histogram,
      // both partial-aggregating; the regression is a scalar agg over
      // <= max_degree rows — nothing wider than h05
      "h18_degree_powerlaw" -> Seq("HashAggregate", "partial_count",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // d17: d02's banded candidates + exact verify unchanged; the
      // per-doc argmax must push into the window operator
      // (WindowGroupLimit — one surviving row per doc leaves the map
      // side), and nothing all-pairs may appear
      "d17_nearest_dup" -> Seq("WindowGroupLimit", "HashAggregate",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // q22b: the scale form — the distinct computes as a PARTIAL
      // HLL++ sketch map-side (no (col,val) dedup shuffle exists in
      // this plan; partials merge as fixed-size sketches)
      "q22b_data_profile_approx" -> Seq("Generate",
        "partial_approx_count_distinct",
        "!CartesianProduct", "!BroadcastNestedLoopJoin", "!Union"),
      // v13: like v09/v10 the one-shot entry materializes its k rows
      // on the driver (cache-release contract); the serving shape is
      // pinned by VectorSpec (full-pool == brute, byte-code bounds)
      "v13_ann_sq8" -> Seq("LocalTableScan"),
      // v14: same driver-side materialization contract; the Hamming
      // pool pass is pinned by VectorSpec (pure xor+bit_count column)
      "v14_ann_binary" -> Seq("LocalTableScan"))

    val sb = new StringBuilder
    sb.append(s"# Plan audit @ $dir\n\n")
    var failures = 0
    def audit(name: String, df: org.apache.spark.sql.DataFrame,
        needles: Seq[String]): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // a "!"-prefixed needle asserts ABSENCE (no cartesian, no BNLJ)
      val (neg, pos) = needles.partition(_.startsWith("!"))
      val missing = pos.filterNot(plan.contains) ++
        neg.filter(n => plan.contains(n.drop(1))).map(n => s"unexpected ${n.drop(1)}")
      val status = if (missing.isEmpty) "OK" else { failures += 1; s"MISSING ${missing.mkString("; ")}" }
      println(s"[explain] $name: $status")
      sb.append(s"## $name — $status\n\n```\n$plan\n```\n\n")
    }
    audits.foreach { case (name, needles) =>
      audit(name, SparkEntry.queries(name)(spark, dir), needles)
    }
    // m05's PAIR path (not an oracle entry — it takes a docs frame):
    // candidates MUST block on the 16-bit band equi-key (lossless at
    // Hamming <= 3), the distinct dedup partial-aggregates, and no
    // all-pairs shape may appear anywhere.
    audit("m05_phash_pairs",
      graft.operators.MultimodalQueries.phashPairs(
        spark, graft.sources.Tables.documents(spark, dir)),
      Seq("band_idx", "HashAggregate",
        "!CartesianProduct", "!BroadcastNestedLoopJoin"))

    // Layout evidence: the events z-order drop-in, measured here so
    // the audit file regenerates its own numbers — scan rows
    // surviving row-group pruning for a one-type ~10%-time box on
    // arrival-ordered vs z-ordered layouts of the same table.
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    import org.apache.spark.sql.functions._
    val ztmp = java.nio.file.Files.createTempDirectory("explain_z").toString
    graft.store.ZOrder.zOrderEvents(spark, dir, s"$ztmp/zdir", numFiles = 32)
    val ev = graft.sources.Tables.events(spark, dir)
    ev.withColumn("__o", col("event_id"))
      .repartitionByRange(32, col("__o")).sortWithinPartitions("__o").drop("__o")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$ztmp/linear/events.parquet")
    val q = ev.select(unix_micros(col("ts").cast("timestamp")).as("us"))
      .stat.approxQuantile("us", Array(0.45, 0.55), 0.001)
    def ntz(us: Long) = java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    def box(d: String) = graft.sources.Tables.events(spark, d)
      .filter(col("event_type") === "click" &&
        col("ts") >= lit(ntz(q(0).toLong)) && col("ts") <= lit(ntz(q(1).toLong)))
      .select("event_id")
    val (zRows, lRows) = (scanRows(box(s"$ztmp/zdir")), scanRows(box(s"$ztmp/linear")))
    val zStatus = if (zRows * 2 <= lRows) "OK" else { failures += 1; "MISSING pruning" }
    println(s"[explain] events_zorder_layout: $zStatus ($zRows vs $lRows scan rows)")
    sb.append(s"## events_zorder_layout — $zStatus\n\n")
    sb.append("One-type ~10%-time box over events, identical results both " +
      s"layouts: **z-ordered scans $zRows rows, arrival-ordered scans $lRows** " +
      "(row-group min/max pruning from the pushed filters alone; " +
      "ZOrderSpec asserts the same bound in CI).\n\n")

    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[explain] wrote $out; $failures failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
