package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Session, SparkEntry}

/** Regenerates PLANS.md: the physical plans of representative graded
  * queries with the scale-relevant evidence (pushdown, broadcasts,
  * aggregate modes, codegen spans) — the audit trail behind README's
  * "every operator was audited with explain" claim. */
object PlanDump {
  val Selected: Seq[(String, String)] = Seq(
    "q1_agg" -> "filter pushed to the parquet scan (PushedFilters), 7/11 columns read (ReadSchema), two-phase HashAggregate",
    "sort_by_id" -> "range-partition Exchange + per-partition Sort = the reference's entire external merge sort",
    "sort_topk" -> "TakeOrderedAndProject: bounded per-partition heaps, no global sort or shuffle of the data",
    "q_broadcast_join" -> "dimension join is a BroadcastHashJoin (no shuffle of the fact side)",
    "q_asof_join" -> "as-of join = one shuffle on the key + window (no non-equi join explosion)",
    "dedup_minhash" -> "signatures are a scan-speed native-codegen projection (no explode/aggregation before the band join); band self-join is broadcast at this scale, sort-merge + ReuseExchange beyond",
    "dedup_ngram_jaccard" -> "48-bit hashed shingle keys; df-cap window shares the bucket aggregation's shuffle-by-shingle; nothing persisted",
    "text_simhash" -> "simhash is a single native-codegen projection — no token explode, no 32-column aggregation, no shuffle",
    "ann_bruteforce" -> "corpus scanned once, query side broadcast; cosine is the codegen'd graft_dot expression",
    "q_session_window" -> "built-in session_window in batch: partial agg -> one hashpartitioning(user_id) exchange -> MergingSessions -> final agg; never a global window",
    "dedup_incremental" -> "delta-vs-corpus band equi-join: only the new batch's band keys meet the corpus bands (broadcast at this scale; shuffle-on-band-key beyond)",
    "text_contamination" -> "48-bit shingle-hash equi-join of the test docs against the distinct train universe; both sides pushdown-filtered on the split bucket",
    "text_topterms" -> "explode -> two-phase HashAggregate (count + distinct-doc expansion) -> TakeOrderedAndProject(20): the term table is never globally sorted",
    "q_scalar_subquery" -> "correlated scalar subquery decorrelated: per-key aggregate of orders + outer join back to customer, no per-row re-execution",
    "q_bloom_join" -> "bloom bit-tests sit in the Filter ABOVE the lineitem scan, ahead of the join exchange — non-matching fact rows never shuffle; the semi join then removes false positives",
    "q_gap_fill" -> "spine = sequence+explode of the per-type min/max rollup (no driver loop); one rollup shuffle, spine join, one partitioned window pass for the forward fill",
    "text_heavy_hitters" -> "Misra-Gries UDAF: ObjectHashAggregate with partial aggregation (one bounded map per partition through the exchange), candidates broadcast back for the exact recount",
    "data_zorder" -> "Morton interleave is a pure codegen projection (16 shift/mask terms); the locality stats are one two-phase hash aggregation",
    "text_dup_spans" -> "positional gram hashes semi-joined against the multi-doc key set (broadcast at this scale); totals are a size()-2 projection, not a second hash pass; the run-detection window's doc partitioning is reused by both rollups (no extra exchange)",
    "text_countmin" -> "Count-Min UDAF: ObjectHashAggregate ships ONE fixed depth*width long array per partition through the exchange — aggregation state is constant in the input cardinality",
    "q_scd2" -> "SCD2 history = one full-outer join on the key + a union of the two row roles; no window, no second join",
    "data_interleave" -> "per-source rank window (one shuffle on source) + range-partitioned sort on (rank, source): a global training order with no single-partition stage",
    "text_lm_score" -> "one bigram explode feeds BOTH count tables (heads aggregate FROM the bigram counts — no second corpus pass); per-position ln is rounded to integer e4 nats so the per-doc sum is exact integer aggregation",
    "text_span_removal" -> "covered word ordinals anti-join the positional word table (both sides shuffle on doc); per-doc ordered reassembly is an ObjectHashAggregate whose state is one document's words, never a global window",
    "ann_pq" -> "PQ/ADC: codebook + LUT both broadcast; encode is explode(16 subspaces) -> broadcast join -> partial-agg argmin; scoring reads CODES only and sums BIGINT micro-units in a two-phase hash aggregate — the raw-vector table is scanned once for encoding, never per query",
    "q_lateral_topk" -> "LATERAL with per-row LIMIT decorrelates to WindowGroupLimit (map-side group pruning BEFORE the exchange) + rank filter + broadcast join — no nested-loop per-outer-row subquery execution",
    "q_bucket_join" -> "both sides read from bucketed tables on the join key: SortMergeJoin with NO Exchange on either side (the bucketed write paid the one-time shuffle)",
    "text_bpe" -> "BPE segmentation is ONE native-codegen projection (graft BpeEncode, merge table as a per-task reference object) — no per-merge passes, no explode, no shuffle",
    "q_global_ids" -> "contiguous global numbering with NO SinglePartition exchange: zipWithIndex two-pass over ONE range-partitioned RDD instance (count pass = P longs to the driver, numbering pass = local counter + offset per partition, shuffle files reused between passes; the scan below is that RDD) — the naive global row_number would funnel every row through one task",
    "ann_filtered" -> "the metadata predicate is part of the JOIN KEY (label equality), so filtering precedes scoring — per-label blocks, never a query x corpus cross product",
    "ann_ivf" -> "IVF cell assignment is a partial-aggregable min_by HashAggregate over the broadcast-centroid product (map-side combined to one row per vector) — NOT a Sort+Window+Exchange of N x numCells rows; candidate generation is the cell_id equi-join",
    "ann_filtered_ivfpq" -> "filtered x compressed composite: label equality sits in the candidate JOIN KEY next to cell_id (filtering precedes scoring), IVF probing prunes the scan, and the ADC aggregate reads codes + broadcast LUT only — raw vectors are never shuffled",
    "q_partition_prune" -> "the source predicate is answered by DIRECTORY pruning on the hive-partitioned layout: the scan shows it under PartitionFilters (no per-row data filter), so only the matching partition's files are listed and read",
    "q_sweep_concurrency" -> "sweep-line running sum with NO SinglePartition window: the +/-1 delta relation range-partitions once, per-partition folds run in parallel over the SAME RDD instance (offsets = P longs to the driver, shuffle reused between the passes — the scan below is that RDD)",
    "q_funnel" -> "each funnel step is a partial-aggregable per-user min gated on the previous step via an equi-join on user_id — three HashAggregates + two shuffles on the same key, no sequence window, no per-user sort",
    "q_attribution" -> "last-touch attribution = per-(user,ts) campaign rollup (one partial-aggregable max_by) feeding the as-of join's single shuffle-on-key + one window pass; revenue rollup is a two-phase HashAggregate over |campaigns| rows — no ts-range join explosion, no per-purchase subquery",
    "q_cohort_retention" -> "the first-seen rollup is a two-phase HashAggregate whose |users| output broadcasts back onto the activity scan (the event table never shuffles for the join); the cohort-cell countDistinct is the standard partial/final expand pair whose output is |cohorts|x|offsets| cells, never the data",
    "q_transition_matrix" -> "one lead() window over the session partitioning (the exchange every session query shares), then a partial-aggregable pair count; the probability normalization window runs over the GROUPED |types|^2 rows — bounded by the event vocabulary, never the data",
    "graph_pagerank" -> "per iteration: edges equi-join ranks (shuffle on src), partial-aggregable groupBy dst, left join back to nodes — integer micro-unit arithmetic makes the iterative result exactly replayable; no driver-side state, plan depth linear in iterations (checkpoint every few rounds at cluster scale)",
    "q_triangles" -> "degree-oriented triangle counting: every join is an equi-join (co-occurrence self-join on orderkey, degree attach, wedge self-join on src, closing-edge join on (u,v)); orientation bounds the wedge fan-out by O(sqrt(E)) so no hub explosion",
    "ann_rrf_fusion" -> "rank fusion = full outer join of two top-k candidate lists (|Q| x k rows each) + one fixed-order score expression + the per-query top-k window — the corpus is never rescanned; both inputs are the compressed/bucketed retrieval paths",
    "q_null_semantics" -> "the NOT IN leg plans as BroadcastNestedLoopJoin LeftAnti with the null-aware single-column condition (Spark's null-aware anti join), NOT EXISTS as a plain broadcast anti join, and <=> as a null-safe broadcast semi join — three different join operators for three different null contracts",
    "graph_degrees" -> "two partial-aggregable HashAggregates (one per edge direction, each with a single-column partial distinct — no expand) + one full outer join on the node id; shuffle volume is O(|E|) with map-side combine collapsing multi-edges before the exchange",
    "graph_label_prop" -> "per round: symmetrized edges equi-join labels (shuffle on src), then the vote argmax as TWO stacked fixed-width HashAggregates — the (count,label) vote packs into one BIGINT so neither aggregate demotes to ObjectHash/SortAggregate; left join back keeps isolated nodes; plan depth linear in rounds (checkpoint cadence documented)",
    "graph_link_pred" -> "wedge enumeration = adjacency self-join on the MIDDLE node with the degree cap filtered BEFORE the join (hot hubs never enter the exchange); pair counting is a partial-aggregable HashAggregate; degrees attach by two joins on the bounded node table",
    "q_recursive_hierarchy" -> "WITH RECURSIVE as pointer doubling: 12 fixed self-joins (state never grows — one row per node), each an equi-join of the state against itself; depth accumulates in exact longs so the distributed O(log depth) plan hash-matches the sequential recursive oracle",
    "q_corr_agg" -> "five exact DECIMAL(38,0) moment sums in ONE two-phase HashAggregate over the scan (no second pass per statistic); corr/covar/slope/intercept/R² are pure projections over the 3 group rows — the engine's streaming corr kernel is bypassed for a deterministic integer-moment formulation",
    "q_mode" -> "two stacked fixed-width HashAggregates: (group,value) counts collapse map-side, then the argmax-by-count packs (count,value) into one BIGINT max() — no window over raw rows, no ObjectHashAggregate",
    "ann_radius" -> "range search: corpus scanned once against the broadcast query side, similarity filter applied directly — NO window, no per-query ranking state at all (the top-k family's Sort+Window disappears); output scales with the radius, not k·|Q|",
    "ann_multiprobe" -> "multi-probe LSH: the Hamming-1 probe explode multiplies only the dimension-sized QUERY side (corpus buckets unchanged); candidates stay an equi-join on (band, band_key) and scoring touches candidates only",
    "multimodal_phash_groups" -> "perceptual hashes come from a mapPartitions decode (codec amortized per task, no per-row UDF); the dup-grouping is one partial-aggregable HashAggregate on the 56-bit BIGINT hash — output bounded by distinct fingerprints, never the image count",
    "text_lexical_diversity" -> "explode feeds two STACKED partial-aggregable HashAggregates ((source,word) then source) — the hapax/type/token statistics all ride the same shuffle; one exact-long division per source at the end",
    "dedup_prefix_filter" -> "EXACT set-similarity join with no df cap: df counts shuffle on the shingle hash, the rarest-first rank + set collect share one shuffle on doc, and the candidate self-join touches only PREFIX tokens (hot boilerplate shingles rank last and never enter the join); the exact verify joins collected hash sets by candidate id — bounded by candidates, never corpus²",
    "pipeline_record_linkage" -> "cross-source linkage: the blocking key rides INSIDE the deletion-neighborhood join key ((block, variant) composite), candidates distinct on id pairs only, short strings re-join for the exact levenshtein verify; survivorship is one window over the right-id partitioning",
    "q_chi_squared" -> "the fact-dim join + contingency count is the ONLY data-sized stage; marginals, expected counts, and the statistic are broadcast joins over the 25-cell aggregate — constant-size post-agg plan regardless of fact cardinality",
    "q_ewma" -> "ONE window pass per user partition: collect_list over the running 16-row frame, then the truncated-decay fold as codegen'd higher-order expressions — no self-join, no sequential state chain, no second exchange",
    "text_entropy" -> "character entropy is a single native-codegen projection (graft CharStats: one pass, per-row alphabet map) — scan speed, no per-character explode, no shuffle before the final order",
    "dedup_jaro" -> "sound sub-quadratic candidate generation: jw>=0.97 forces multiset overlap >= L-1, so candidates meet in a (block, sorted-chars-delete-<=1-variant) equi-join (linear in the corpus — the old nation-block self-join grew pairs ~N²); the codegen JaroWinkler CASE-array generator verifies each distinct candidate exactly once",
    "q_sliding_dau" -> "sliding distinct count via window-end EXPANSION: the (user, day) distinct collapses map-side first, then each fact explodes into ≤7 window ends and the per-window countDistinct is the standard partial/final expand — shuffle is 7× the daily-distinct table, never 7× raw events",
    "text_js_divergence" -> "three stacked partial-aggregable HashAggregates off ONE explode; the |vocab|×|sources| expansion joins the broadcast source list and the broadcast corpus total — the corpus is scanned once, the expansion is bounded by vocabulary",
    "data_dp_noise" -> "the Laplace mechanism runs entirely ON the group aggregate: one two-phase HashAggregate over the scan, then the md5-seeded inverse-CDF draw as a pure projection over |groups| rows",
    "graph_bfs" -> "per relaxation round: state joins edges on src (shuffle on src) + union + map-side-combined groupBy-min — state stays ≤ one row per reached node; the edge set materializes ONCE through the cut channel (localCheckpoint, or the reliable checkpointDir) so rounds never re-derive it from the source scan; fixed rounds keep the plan static and cutEvery bounds the lineage",
    "q_moments" -> "skewness/kurtosis from four exact DECIMAL(38,0) power sums in ONE two-phase HashAggregate (the q_corr_agg pattern extended to 3rd/4th moments); the central-moment algebra is a pure projection over 5 group rows",
    "q_ttest_welch" -> "Welch's t-test = ONE conditional-aggregation HashAggregate (six exact BIGINT sums in a single pass over both arms); the statistic and Satterthwaite df are constant-time projections over the 1-row aggregate",
    "q_mad_outliers" -> "median + MAD + outlier count in three passes, but the per-group medians/MADs return as BROADCAST joins (|groups| rows) — the fact table is never shuffled, only rescanned; the exact percentile buffer is per-group bounded (sketch variant is the stated petabyte path)",
    "q_benford" -> "first-digit histogram is one partial-aggregable count to 9 rows (digit from the string rendering — no libm log10 edge); expected shares and χ² contributions are projections over the 9-row aggregate crossed with a broadcast 1-row total",
    "q_k_anonymity" -> "QI group sizes = one two-phase HashAggregate; corpus-level k and at-risk mass aggregate the ≤175-row group table and cross back by broadcast — nothing data-sized after the first aggregate",
    "q_audience_overlap" -> "pairwise segment Jaccard: the self-join runs on the DISTINCT (type,user) table shuffled on user — each user emits ≤|types|² pairs so output is linear in users; set sizes ride back as a broadcast of the |types|-row aggregate",
    "q_seasonality" -> "pure integer epoch bucketing (no timezone kernel) -> ONE partial-aggregable HashAggregate to ≤168 cells + broadcast total; the per-cell mean is an exact integer division, no float rounding boundary",
    "q_changepoint" -> "the fact table collapses to a daily aggregate FIRST (partial-aggregable); prefix sums + the CUSUM argmax run on the calendar-bounded day series — the unpartitioned window is over ≤366 rows by construction, never the data",
    "ann_maxsim" -> "late-interaction MaxSim: the 8×8 chunk interaction matrix is a nested higher-order expression inside the broadcast-query × corpus-scan projection — same single-corpus-pass shape as brute force, no join per chunk, no UDF",
    "text_pmi" -> "adjacent bigrams from ONE pass over the words array (no positional self-join); bigram + unigram counts are stacked partial-aggregable HashAggregates and the unigram joins attach AFTER the min-count filter cuts the bigram tail; top-30 via TakeOrderedAndProject",
    "text_readability" -> "sentence split, word array, and the syllable fold are all per-row codegen projections — scan speed, zero shuffle before the final order at any scale",
    "data_curriculum" -> "difficulty is an exact integer projection; the three quartile cuts broadcast back from ONE percentile aggregate so stage assignment is a comparison projection — no ntile window over the corpus, no global sort",
    "cluster_silhouette" -> "centroid-based silhouette (O(N·k), never N² true silhouette): broadcast cross join to k centroids, per-point top-2 via a k-BOUNDED collect_list, then one partial-aggregable groupBy(cell) over exact micro-unit scores",
    "q_gini" -> "global value rank via the two-pass zipWithIndex globalIds (range partition + P counts to the driver — NO single-partition window); the rank-weighted sum is one exact-BIGINT aggregate and the Gini closed form a 1-row projection",
    "q_market_basket" -> "pair generation on the DISTINCT (basket,item) table shuffled on the basket key (≤ items² per basket — linear in baskets); item totals + basket count broadcast back; top-20 via TakeOrderedAndProject",
    "text_keyphrase" -> "RAKE: stopword-free runs via gaps-and-islands (one row_number window per doc partition), phrase assembly as an ObjectHashAggregate bounded by phrase length, word scores as exact integer micro-units — no double-sum order sensitivity in the ranking",
    "q_cuped" -> "per-user (x,y) from ONE shuffle on user_id; per-arm exact BIGINT moment sums (2 rows); θ and the adjusted means are broadcast 1-row algebra — constant-size after the first aggregate at any event volume",
    "q_weighted_median" -> "cumulative weight via Sweep.runningSum (range partition + per-partition folds + P longs of driver state); the crossing point is one aggregate min over the qualifying suffix — no single-partition window, no global sort materialization",
    "data_label_balance" -> "per-label rank window (as many partitions as labels) + broadcast 1-row minority target; the kept membership is a pure filter — no global sort, no collect",
    "pipeline_curation_v4" -> "readability gate is per-row codegen; dedup survivorship is one partial-aggregable min_by on the md5 fingerprint (the survivor's stats ride the aggregate — no join-back); staging reuses the broadcast-quartile comparison projection",
    "q5_local_supplier" -> "the TPC-H Q5 star: region→nation folds into ONE broadcast before any fact table; customer joins it broadcast; the only data-sized shuffles are the two fact-fact joins (orders, lineitem) on their natural keys; supplier (with the local-supplier correlation in its join key) broadcasts — no fact table ever shuffles against a dimension",
    "q18_large_orders" -> "aggregate-then-join: the HAVING-filtered lineitem rollup is a two-phase HashAggregate whose tiny survivor set drives broadcast joins back to orders/customer — the post-filter joins never see the full fact tables; top-100 via TakeOrderedAndProject",
    "ann_rbo_eval" -> "RBO: the two top-k lists join on (query, candidate); per shared candidate the max-rank depth expansion (≤10 rows) feeds one partial-aggregable count per (query, depth); the weighted sum runs over ≤10 terms per query with literal p-powers — no pow(), no rescan of the corpus",
    "q_time_to_convert" -> "ONE conditional-min HashAggregate per user (partial-aggregable), then a single constant-size stats row — the percentile buffer holds only the converted cohort's integer minutes",
    "multimodal_audio_features" -> "mapPartitions decode (codec amortized per task) with exact integer Σs² and channel sums accumulated in the same PCM pass; the plan stays scan → decode → sort, parallel by file, no per-row UDF",
    "graph_modularity" -> "modularity over label-prop communities: edge/degree aggregates are the only data-sized stages; the 3-round label lineage checkpoints once before fanning into the two endpoint joins; per-community contributions are EXACT decimal(38,0) numerators (4·m·e_c − d_c²) summed associatively with one double division at the end — no order-dependent float sum anywhere in the plan",
    "q_rfm" -> "R/F/M from ONE conditional aggregate per user; quintile cut points broadcast from a single percentile aggregate — score assignment is a comparison projection, no ntile window over users",
    "q_abc_analysis" -> "per-part rollup → Sweep.runningSum descending (range partition + per-partition folds, driver state = P longs) → broadcast-total class cut → 3-row rollup; the Pareto sibling of q_gini with the opposite sort order",
    "q_key_skew_audit" -> "two stacked partial-aggregable HashAggregates (per-key fan-out, then count-of-counts bounded by max fan-out) + one broadcast total — the skew diagnostic itself never skews",
    "q_yoy_growth" -> "monthly rollup (partial-aggregable, exact cents) self-joined against itself shifted one year — dimension-sized after the first aggregate, null growth for first-year months",
    "text_vocab_growth" -> "per-word first-doc min is the one word-level shuffle; decile bucketing and both cumulatives run on the 10-row table — the Heaps curve costs one corpus explode",
    "q_drawdown" -> "daily rollup first (the q_changepoint contract), then cum/runmax/argmax windows over the calendar-bounded series — never a data-sized unpartitioned window",
    "data_oversample" -> "replication factor from a broadcast |labels|-row aggregate; the replication itself is a per-row sequence GENERATOR (explode) — no driver loop, no k-way self-union plan",
    "q_new_vs_returning" -> "distinct (user, day) collapses map-side; first-seen min joins back on the SAME user_id shuffle axis; the daily split is a second HashAggregate — no window over events",
    "text_pii_audit" -> "regexp counts are a single codegen projection over the scan; the per-source rollup is one partial-aggregable HashAggregate — the redaction rewrite never runs",
    "data_split_audit" -> "one partial-aggregable count to |3| split rows; coverage and permille drift are broadcast algebra — the audit costs one scan",
    "q_hll_sketch" -> "replayable HLL: register build is ONE partial-aggregable max per (group, bucket) — map-side combine collapses each partition to ≤256 rows, so the sketch merges by construction; the 2^60-scaled harmonic sum is an exact decimal aggregate over the 256-row spine, and the raw-vs-linear-counting branch is a 1-row projection",
    "q_auc" -> "Mann-Whitney AUC: the fact table collapses to per-VALUE (count, positives) first (output bounded by distinct values); tie-corrected ranks ride Sweep.runningSum (range partition + P driver longs — no single-partition window); U2 is one exact BIGINT aggregate and AUC one division",
    "q_psi" -> "PSI drift: decile cuts broadcast from ONE percentile aggregate (no ntile window over events); per-bin shares are exact counts; the (p−q)·ln(p/q) terms quantize to pico BIGINTs before the associative total — the js_divergence discipline",
    "q_holt" -> "Holt smoothing: the fact table collapses to the calendar-bounded daily rollup FIRST (partial-aggregable); the sequential recurrence folds once over the collected ≤2.4k-row series in exact integer cents with engine-agnostic floor-halving",
    "q_survival_km" -> "KM survivor curve: per-user (first,last) in one partial-aggregable pass; the curve lives on the ≤|distinct lifetime| grid, so the unpartitioned cum window is dimension-bounded; every survival/hazard value is one exact integer ratio",
    "q_diff_in_diff" -> "DiD: four conditional cells from ONE aggregation pass over exact cents; every displayed value derives from quantized integer means — constant-size after the first aggregate, no round() anywhere",
    "q_bootstrap_ci" -> "Poisson bootstrap: md5-seeded Poisson(1) weights per replicate — ONE pass, B=48 counters per partition, fully partial-aggregable (never resampling n rows B times); each 128-bit digest carves into FOUR 24-bit uniforms so 48 replicates cost 12 digests/row; the CI is one percentile over the 48-row replicate table",
    "q_ab_srm" -> "SRM guard: one distinct-user aggregate; the 50/50 chi-square collapses algebraically to (a−b)²/N — 1-row algebra after the count",
    "graph_kcore" -> "k-core peel: per round two equi-joins of the once-materialized edge set against the shrinking alive set + one map-side-combined degree count; alive sets checkpoint each round (the bfs lineage policy)",
    "graph_ppr" -> "personalized PageRank: pageRank's per-round join/agg shape with restart mass gated on a dimension-sized membership marker; all-BIGINT micro-unit arithmetic, loop invariants materialized once",
    "ann_matryoshka_eval" -> "matryoshka eval: truncation is a zero-copy slice projection; both rankings are the graded brute-force broadcast-query × corpus-scan path; the eval adds one left join + one partial-aggregable count",
    "multimodal_scene_cut" -> "scene cut: real decode in mapPartitions (codec amortized per task), then a lag window PARTITIONED BY media (4 rows each — never corpus-wide); integer channel deltas with one exact div by w·h",
    "q7_volume_shipping" -> "TPC-H Q7: the disjunctive cross-nation predicate rides in two BROADCAST nation joins (no fact-side shuffle against dimensions); only lineitem⋈orders and orders⋈customer exchange on natural keys; shipdate range pushed to the lineitem scan; revenue in exact 1e-6-dollar units summed in decimal",
    "q10_returned_items" -> "TPC-H Q10: returnflag pushed to the lineitem scan, quarter filter to orders; the nation dim broadcasts; top-20 via TakeOrderedAndProject after a partial-aggregable revenue rollup in exact units",
    "q2_min_cost_supplier" -> "TPC-H Q2: the correlated min decorrelates to a per-part rollup of the ALREADY part+region-filtered offers joined back on an EXACT integer unit price (cents·10⁴ div qty — no float threshold); region→nation→supplier folds into one broadcast; top-100 via TakeOrderedAndProject",
    "q4_priority_check" -> "TPC-H Q4: the EXISTS subquery is a LEFT SEMI join on the order key with the lateness predicate as join residual — lineitem matches are never materialized; quarter filter pushed to the orders scan",
    "q6_revenue_change" -> "TPC-H Q6: the canonical scan-filter-agg — all three predicates (shipdate range, discount band, quantity cap) appear in PushedFilters; 4-column ReadSchema; one two-phase HashAggregate over exact e6 units",
    "q8_market_share" -> "TPC-H Q8: region restriction folded into two broadcast dimension joins; part-type filtering join prunes the fact side early; CASE-gated numerator + total in ONE aggregate pass (never two fact scans); per-year division of exact integers",
    "q9_product_profit" -> "TPC-H Q9: name filter prunes part before the fact join; supplier→nation broadcasts; profit = exact signed e6 integers (vol − qty·retail·0.6) summed in decimal — associative even with negative terms",
    "q12_ship_priority" -> "TPC-H Q12: one lineitem⋈orders equi-join with the lateness comparison as residual; both priority-class counts CASE-gated in a single two-phase HashAggregate",
    "q13_order_distribution" -> "TPC-H Q13: LEFT OUTER join keeps zero-order customers; first groupBy on the join key (one data-sized shuffle), second groupBy is a histogram over the tiny count domain",
    "q14_promo_share" -> "TPC-H Q14: month filter pushed to the lineitem scan; part joins broadcast (AQE) at graded scale, plain key-equi beyond; numerator and total in the SAME aggregate pass; final division of exact integers left unrounded",
    "q15_top_supplier" -> "TPC-H Q15: the revenue view is one partial-aggregable rollup; the scalar max re-enters as a broadcast 1-row aggregate and the survivor test is EXACT integer equality on e6 units",
    "q16_supplier_count" -> "TPC-H Q16: complaints exclusion as a broadcast LEFT ANTI join; count(DISTINCT supplier) runs the standard two-phase partial-distinct expand — never a collected pair set",
    "q17_small_quantity" -> "TPC-H Q17: the correlated 0.2·avg threshold cross-multiplies to exact integers (qty·5·n < Σqty) so no float average exists; per-part rollup joins back to the pre-filtered lines only",
    "q19_discounted_revenue" -> "TPC-H Q19: Catalyst extracts the common quantity bounds and the brand disjunction from the OR-of-ANDs into scan-level pushdowns; the residual disjuncts evaluate on pre-filtered rows only",
    "q21_waiting_supplier" -> "TPC-H Q21: the exists/not-exists pair plans as LEFT SEMI + LEFT ANTI equi-joins on the order key with ≠-supplier residuals — no correlated re-execution; late-line filter applied before both self-joins",
    "q22_sales_opportunity" -> "TPC-H Q22: the positive-balance average re-enters as a broadcast 1-row (Σ,n) pair with a cross-multiplied integer threshold; the lapsed test is a LEFT ANTI join against the date-pruned orders scan",
    "q_l_diversity" -> "l-diversity: two stacked fixed-width HashAggregates ((QI, value) counts, then the packed-BIGINT modal argmax) — bounded by |QI|·|values|, no window over raw rows",
    "q_table_fingerprint" -> "table fingerprint: ONE scan, row hashes in a codegen projection, one partial-aggregable decimal sum — commutative/associative, so any partitioning or file order computes the same witness; the cheapest whole-table equality check at 100 TB",
    "graph_assortativity" -> "degree assortativity: symmetrized edges shuffle once for the degree count, endpoint degrees attach via two equi-joins on the SAME node axis, and the Pearson r collapses to ONE pass of exact BIGINT moment sums (the q_corr_agg pattern) — 1-row algebra after the aggregate",
    "data_sft_pack" -> "SFT packing: per-conversation windows over the conversation-id partitioning (8 rows each — never corpus-wide); the reverse cumulative token sum and the loss mask are codegen window/projection work, one shuffle total",
    "q_ks_test" -> "two-sample KS: the fact table collapses to per-VALUE counts first (partial-aggregable, bounded by distinct values); the CDF walk is Sweep.runningSum (range partition + P driver longs — no single-partition window); D's numerator is exact BIGINT throughout with ONE division at the end; scalar max/argmax re-joins broadcast 1-row aggregates",
    "graph_hyperball" -> "HyperBall: per round ONE equi-join of the once-materialized edge set against the (node,bucket,mreg) sketch state (shuffle on dst) + one partial-aggregable register max — rounds·|E| total vs the |V|·|E| of exact all-pairs BFS; the finalize is a closed-form single pass (no 256-bucket spine explode) and per-node estimates quantize to micro-BIGINTs BEFORE the exact integer total",
    "graph_effective_diameter" -> "effective diameter: hyperBall's per-round totals (rounds+1 rows) feed a lag window + one broadcast 1-row max — exact integer 90%-threshold comparisons and ONE division for the interpolation; the window is rounds-sized, never the data",
    "text_corpus_overlap" -> "HLL set algebra: ONE corpus pass builds per-segment registers (partial-aggregable max — ≤256 rows of state per segment through the exchange); the union sketch is a bucketwise register max over the ≤512 materialized rows, intersection by inclusion-exclusion on micro-unit BIGINTs — the two shingle sets are never joined; the exact countDistinct legs are the only corpus-sized consumers",
    "q_skyline" -> "Pareto skyline via the monotone-frontier trick: the fact table collapses to the distinct (cents, size) grid FIRST (two stacked partial-aggregable HashAggregates), the running-max frontier window runs over the ≤|distinct cents| grid rows — never the data — and survivors broadcast back onto the grid",
    "q_linreg" -> "grouped closed-form OLS: all five sufficient statistics in ONE two-phase HashAggregate over the fact join (associative decimal(38,0) integer sums); slope/intercept/R² are single-division projections over the ≤25 group rows — the q_corr_agg discipline applied to regression",
    "q_acf" -> "autocorrelation: the fact table collapses to the calendar-bounded daily rollup, gid comes from the two-pass globalIds (no single-partition window), and lag pairing is an EQUI-join of 7 bounded copies of the ≤2.4k-row series against itself; the mean-free n²-cleared algebra keeps every aggregate an associative decimal sum with one double division per lag",
    "q_seq_mining" -> "sequential patterns: consecutive event bigrams from ONE lead() window on the user_id partitioning (the exchange every session query shares); support is a partial-aggregable pair count + two-phase distinct; confidence denominators broadcast back from the ≤|alphabet|-row rollup",
    "q_geo_knn" -> "spatial kNN as an EQUI-join: grid-cell bucketing turns the nearest-neighbor search into a 3×3-neighborhood cell join (supplier side broadcast at dimension scale, shuffle-on-cell beyond); the squared distance is an exact BIGINT argmin with a min-key tie-break — no cross join, no float compare",
    "q_lift_curve" -> "cumulative gains: the per-user rollup is one partial-aggregable HashAggregate, the global spend rank is the two-pass globalIds (range partition + P driver longs — no single-partition window over users), and the decile cumulatives run on the 10-row rollup with a broadcast 1-row total",
    "pipeline_curation_v3" -> "composite cost audit (2.9 s isolated at sf0.1, vs 2.3 s in r5): the delta is connectedComponents' r6 reliability protocol — convergence now proves itself via a label-sum fixpoint (one extra aggregate job per round) and every cut is restart-safe, worth the 2 small jobs/round on a bounded graded fixture and negligible against real data volumes; the dataflow itself is unchanged — exact-dup groupBy, banded minhash join, per-source percent_rank, novelty semi-join, all partial-aggregable with the pair graph cut ONCE before the loop",
    "q_cohens_kappa" -> "rater agreement: ONE partial-aggregable pass builds the 9-cell confusion matrix; marginals and the kappa algebra run on broadcast 3-row/1-row aggregates — the only data-sized stage is the first HashAggregate",
    "q_pr_curve" -> "threshold sweep: per-value collapse first (partial-aggregable, bounded by distinct values), then ONE descending Sweep.runningSum carries both cumulative counts in a packed BIGINT delta — range partition + P driver longs, never a single-partition window",
    "q_ece_calibration" -> "calibration bins: md5-carved confidence is a pure codegen projection; one partial-aggregable pass to 10 bin rows; the ECE total is a broadcast 1-row aggregate — integer gap algebra, no float sum",
    "text_top_p_vocab" -> "nucleus truncation: explode -> two-phase term count (shuffle on term only), ONE runningSum over the frequency-sorted order, keep predicate in pure BIGINT algebra against a broadcast 1-row total",
    "data_preference_pairs" -> "chosen/rejected per stratum: exact integer score projection + ONE partial-aggregable groupBy carrying BOTH argmax and argmin as packed BIGINTs — no join, no window, one shuffle on the stratum key",
    "text_fertility" -> "language-pair budget rollup: langid scores and token counts are codegen projections over two scans of the same parquet, one join on doc_id, then a partial-aggregable groupBy on the bounded language-pair key",
    "graph_closeness" -> "per-node HyperBall centrality: rounds x (edge equi-join + partial-aggregable register max), per-round finalize, then ONE pivot-by-t groupBy over the (node, round) table — closeness costs nothing beyond the neighborhood function",
    "multimodal_contrast" -> "real decode -> luma moments in mapPartitions (imperative codec work — the sanctioned use), then pure projection algebra; no shuffle except the presentation sort",
    "q_mann_kendall" -> "trend test: the fact table collapses to the calendar-bounded daily rollup FIRST; the |days|^2 pair join runs over the dimension-sized series (broadcast one side), never the data; S and the tie-corrected variance are exact BIGINT aggregates",
    "q_cramers_v" -> "effect size: one partial-aggregable contingency pass; marginals broadcast back; per-cell micro quantization before the associative sum (the q_chi_squared discipline), V = one division + IEEE sqrt",
    "q_rolling_median" -> "rolling robust smoother: daily rollup first, then a rows-frame window over <=2.4k dimension rows (the q_drawdown contract — unpartitioned windows only over calendar-bounded rollups); lower-median selection is integer list indexing",
    "q_bitmap_overlap" -> "bitmap index: distinct pass -> partial-aggregable bit_or groupBy (62 users/word); the overlap join is per-word with |types|^2-bounded output — the user sets are never joined row-wise",
    "q_sql_native_funcs" -> "SparkSessionExtensions path: the SQL-text functions resolve to graft's NATIVE codegen expressions (no ScalaUDF node in this plan — check the Project), one broadcast-able equi-join, presentation sort only",
    "pipeline_lang_rebalance" -> "mixture rebalance: one corpus scan for token counts, |langs|-row budget rollup broadcast back for the md5 keep gate; the report groupBy is partial-aggregable on the bounded language key",
    "multimodal_audio_flux" -> "real PCM decode in mapPartitions; flux needs the sample SEQUENCE so the loop is genuinely imperative codec work; plan side is pure projection + presentation sort",
    "graph_ktruss" -> "k-truss peel: per round the canonical edge set joins the symmetrized adjacency TWICE ((a,c) wedge matched to (b,c) on an equi-key) + one partial-aggregable support count; survivor sets checkpoint each round (the kCore policy); wedge fan-out is Σdeg² — the honest triangle shape, degree-cappable exactly as commonNeighbors at hub-heavy scale",
    "data_importance_sample" -> "DSIR weights: ONE bigram explode feeds both bucket-count tables (raw, and the broadcast-lang-gated target); the 256-row weight table is ONE floor division of decimal(38,0) products and broadcasts back onto the exploded corpus — the only data-sized stages are the explode and one partial-aggregable per-doc sum",
    "text_kn_bigram" -> "Kneser–Ney: ONE explode -> one bigram count table that feeds head/continuation/type-total aggregates (never a second corpus pass); every probability term is a floor division of exact counts composed by one micro-product division — no ln anywhere; top-40 via TakeOrderedAndProject",
    "data_budget_allocation" -> "Hamilton apportionment: one partial-aggregable rollup to |sources| rows; quota base/remainder are exact decimal(38,0) products with single floor divisions; the remainder-rank window runs over the |sources|-row rollup only — bounded by the stratum universe, never the corpus",
    "q_interval_union" -> "interval union: ALL windows (running-max end, island id, per-island rollup) partition by user_id — one shuffle, partition-local sorts, no global window; variable-length intervals make the running-max end load-bearing (a lag would lose containment)",
    "stream_quantile_hist" -> "streaming quantiles: complete-mode groupBy whose state is |types|·1024 rows BY CONSTRUCTION (clamped buckets — independent of stream length and value cardinality); the batch-side extraction windows over the bounded sketch snapshot only",
    "multimodal_palette" -> "dominant color: real decode + fixed 64-slot histogram in mapPartitions (imperative codec work); plan side is scan -> decode -> presentation sort, parallel by file, no shuffle",
    "embedding_power_iter" -> "matrix-free power iteration: per round ONE corpus pass (the dot is a codegen zip_with/aggregate fold against the round's vector LITERALS — no join) + one 64-group partial aggregate (map-side combined to 64 rows per partition); driver state is one 64-long vector per round, the kmeans-centroid precedent; exact decimal sums make the trajectory partition-invariant",
    "text_phrase_scan" -> "blocklist scan as a JOIN: the corpus explodes once into positional bigrams and meets the BROADCAST phrase table on an equi-key — pattern count never multiplies the corpus pass (the scaled Aho-Corasick shape); hit counting is one partial-aggregable HashAggregate",
    "graph_reciprocity" -> "mutual-link share: distinct edge set + ONE left-semi self-join on the swapped key pair; both aggregates partial-aggregable, ratio is one micro floor division over broadcast 1-row counts",
    "q_decay_score" -> "half-life decay with zero libm: the now anchor is a broadcast 1-row max; decay is an arithmetic shift (cents >> capped epochs) inside the scan projection; one partial-aggregable per-user rollup",
    "pipeline_curation_v5" -> "budget-constrained best-of: Hamilton allocation is |sources|-row algebra broadcast back; selection is ONE per-source rank window (as many partitions as sources); the report is a bounded rollup — the corpus is scanned once for scoring",
    "cluster_purity" -> "external cluster eval: contingency = two stacked partial-aggregable HashAggregates bounded by |cells|x|labels|; modal label rides the packed-BIGINT argmax (the q_mode discipline); purity is one micro division over a broadcast 1-row total",
    "cluster_rand_index" -> "pair-counting Rand index: the half in every C(x,2) cancels algebraically, so the statistic is ONE integer division of exact decimal pair sums — contingency + two bounded marginal rollups, no factorials, no floats",
    "ingest_csv_quoted" -> "quoted-newline CSV: multiLine read pins a file to a task (stated: NOT splittable — interchange only, rewrite to parquet first at scale); the grade is a per-row md5/length projection against the enriched original",
    "multimodal_audio_silence" -> "windowed silence: real PCM decode + fixed 64-sample window fold in mapPartitions (sequence-sensitive longest-run state is one counter); plan side scan -> decode -> presentation sort",
    "q_rolling_zscore" -> "control chart: the fact table collapses to the calendar-bounded daily rollup FIRST; the trailing-14 window runs over <=2.4k dimension rows; z is one division + one sqrt of exact integers and the |z|>3 flag is a pure integer comparison (num^2 > 9*den) that can never flip on a ulp",
    "q_backtest_snaive" -> "seasonal-naive backtest: daily rollup -> calendar self-join on day = day-7 (a row-offset lag would slide across zero-event days) -> a single aggregate carrying exact MAE and the packed-BIGINT worst-day argmax",
    "q_duplicate_events" -> "duplicate-charge audit: the non-equi 30-min predicate rides as a RESIDUAL on a (user, dollars, bucket) equi-join — the earlier side explodes into (own, next) buckets so every qualifying pair meets exactly once; no range-join explosion, no per-user all-pairs",
    "text_code_detect" -> "code router: every feature is a per-row codegen projection (regexp class, split/filter, the size(filter(x IN ...)) keyword count the RewriteCountInSet rule upgrades to native codegen when extensions are active); zero shuffles before the presentation sort",
    "pipeline_dataset_card" -> "dataset card: ONE partial-aggregable pass — words/md5/quality are scan-speed projections, the two countDistincts ride the standard partial-distinct expand, and the card's ratios are floor divisions over the |sources|-row aggregate",

    // r10 sweep: every query ≥1.5 s in the r9 suite now carries an
    // audit (the VERDICT item-2 gap — the expensive tail first).
    "q_profile" -> "exact 6-column profile: countDistinct over 6 columns runs the multi-distinct Expand rewrite (6× row multiplication through one shuffle) — the GRADING path, costly but a single pass; the 100 TB path is q_profile_approx's expand-free HLL scan (graded separately); nulls/min/max ride the same aggregate",
    "q_profile_approx" -> "the profile's scale path: ALL six approx_count_distinct sketches compute in ONE expand-free partial-aggregable pass; the exact leg in this query exists only to adjudicate the 3σ accuracy band against the oracle-confirmed exact counts (the q_percentiles_sketch discipline) — production profiling runs the sketch leg alone",
    "multimodal_frames" -> "frame sampling WALKS the PNG chunk structure and ImageIO-decodes only the stride-selected 2-of-4 frames, all inside mapPartitions (one codec context per task — the sanctioned imperative island); plan side is scan → decode-project → presentation sort, parallel by file, per-frame rows never shuffle",
    "pipeline_training_batches" -> "corpus→batches composite: quality gate = per-row codegen projections; exact-dup survivorship = one min_by aggregate; near-dup = the band-bounded minhash equi-join + pointer-jumping components; chunking = a per-doc generator explode; packing = packTokens' bucket-partitioned running sum — every stage shuffles on a natural key, no collects, nothing corpus²",
    "dedup_cluster_stats" -> "dedup health histogram: pairs → pointer-jumping components → two STACKED partial-aggregable groupBys (component sizes, then the size histogram) + one anti-join for never-paired singletons — output bounded by the largest component size; the only corpus-sized stages are the shingle projection and the band join",
    "dedup_fuzzy" -> "edit-distance≤1 linkage: deletion-neighborhood candidates meet on the delete-variant hash — an EQUI-join linear in the corpus (≤L+1 variants per string), never a block² self-join; the codegen levenshtein verifies each distinct candidate once; the oracle is brute force, so a neighborhood bug that DROPS a true pair hash-fails",
    "stream_outer_join" -> "stream–stream LEFT OUTER interval join: symmetric join state keyed on user_id, rows evicted once the 1 h watermark passes l_ts+6 h — state bounded by interval span × arrival rate, never the stream; time-tertile staging makes three REAL micro-batches, so null emission is driven by watermark advancement (the semantics only streaming has), not end-of-run flush",
    "pipeline_curation_v2" -> "curation composite: codegen quality gate → exact-dup min_by survivorship → band-bounded minhash join + components → md5 split assign → ONE bounded rollup; each stage shuffles on its natural key (text hash, band key, doc id) and the pair join is the only super-linear risk — band-capped by construction",
    "stream_interval_join" -> "stream–stream INNER interval join: cross-batch join state keyed on user_id with the [0, 6 h] bound as residual (a click buffers until its purchase arrives two batches later — the defining stream–stream problem); matches emit when the second side arrives, no watermark-close needed; production watermarks evict by event time",
    "dedup_pair_eval" -> "candidate-vs-truth eval: banded-minhash pairs and exact shingle-Jaccard pairs meet in ONE full-outer join on the pair key; precision/recall collapse to a 1-row conditional aggregate — the corpus-sized work is the two generators, the eval itself is pair-sized",
    "dedup_components" -> "min-label propagation with pointer jumping: O(log diameter) rounds of (one shuffle-on-node join + partial-aggregable groupBy-min + one label self-join shortcut); state is ONE row per node and lineage cuts each round — never a transitive-closure or all-pairs join",
    "dedup_containment" -> "containment pairs over WINNOWED rolling-hash fingerprints (~2/(w+1) of the gram stream — ~60% lighter exploded shuffle than full shingles at the same shift-robustness); shared/min(|A|,|B|) scoring flags short-in-long embeddings symmetric Jaccard misses; df-capped overlap join, corpus-sized stages are explode + equi-join only",
    "dedup_survivors" -> "pairs → components → min-id survivor: losers (component ≠ node) LEFT ANTI join the corpus on the id — survivorship costs one anti-join over the component table, bounded by paired docs, never corpus-sized",
    "dedup_survivors_best" -> "keep-the-best-copy: components join per-doc quality once, ONE window over the COMPONENT partitioning ranks members (score desc, id tie-break), losers anti-join the corpus — one join and one bounded window beyond dedup_survivors' shape",
    "q_percentiles" -> "exact grouped percentiles: each group collects into one percentile buffer (ObjectHashAggregate) — stated safe only for known-small groups at graded SF, with q_percentiles_sketch as the declared 100 TB path; both quantity probes share ONE buffer via the array-probe form",
    "q_percentiles_sketch" -> "Greenwald-Khanna approx_percentile: partial-aggregable CONSTANT-memory summary per group through the exchange (the scale path q_percentiles points to); the exact leg exists only to adjudicate the graded 5% band — the sketch_within_5pct boolean is the declared failure surface",
    "multimodal_resize" -> "decode → nearest-neighbor scale → PNG re-encode → re-decode, all four steps inside ONE mapPartitions pass (one codec context per task); output is per-image bounded stats; no shuffle except the presentation sort",
    "multimodal_decode" -> "real ImageIO decode in mapPartitions (codec amortized per task); exact per-channel sums accumulate in the decoded pass — scan → decode → presentation sort, parallel by file, no per-row UDF, no data-sized shuffle",
    "multimodal_features" -> "64-bin histogram features from ONE real decode in mapPartitions; the graded checksum is a higher-order zip_with/aggregate fold over the per-image bounded vector — zero shuffle before the presentation sort",
    "multimodal_audio_decode" -> "JDK AudioSystem PCM decode inside mapPartitions (one codec per task); the graded sample sum accumulates in the same decoded pass with exact frame-alignment flooring — scan → decode → sort, parallel by file",
    "stream_neardup" -> "streaming near-dup: per-batch minhash signatures are a codegen projection; collisions surface per band as an equi-keyed stateful dedup (at-least-once per colliding band, documented and oracle-replayed) — state is the band-key index, bounded by distinct buckets, never raw docs",
    "stream_hll" -> "streaming distinct-count: complete-mode register state is |types|·256 rows BY CONSTRUCTION (partial-aggregable register max through every micro-batch); the estimate finalizes over the bounded sink snapshot — sketch-sized state is THE reason this works at 100 TB stream volume",
    "stream_enrich" -> "stream–static enrichment: each micro-batch BROADCAST-joins the customer dimension — no streaming state, no watermark, the fact side never shuffles; the lookup-table shape of streaming joins",
    "stream_dedup" -> "streaming exact dedup: dropDuplicates is a stateful FILTER keyed on user_id (not an aggregation), so append mode emits first occurrences immediately; state is one row per distinct key bounded by the watermark horizon; 4-file staging proves suppression genuinely crosses micro-batches",
    "stream_late_drop" -> "watermark semantics under grade: a planted out-of-order slice must be DROPPED by the late-filter watermark while on-time windows emit on the append-mode close rule — the oracle replays the engine's two-watermark protocol (late filter lags eviction by one batch) in SQL; state is the open-window set, pruned as the watermark advances",
    "stream_session_window" -> "streaming built-in sessionization: session_window merges session state across arriving events inside the streaming agg store (one open session per user key); complete mode keeps sessions live on the bounded run — at production scale the same plan runs append mode with watermark-closed emission",
    "stream_custom_sessions" -> "flatMapGroupsWithState sessionization: EAGER emission the built-in cannot express (a session emits the moment a later event reveals its closing gap); state per user is the single open session (bounded by keys, not events); tertile staging forces cross-batch session merges — the custom-state claim under grade",
    "cluster_kmeans" -> "two Lloyd iterations with exactMeans: per round ONE broadcast-centroid assignment pass (partial-aggregable min_by) + ONE per-cell integer-micro mean aggregate; driver state is the k-row centroid model, never data; associative BIGINT sums make centroids bit-identical under any partitioning",
    "ann_ivfpq" -> "IVF probing prunes candidate generation to nProbe cells; ADC scoring reads CODES + the broadcast LUT only — raw vectors are touched once at encode time; the unfiltered sibling of the audited ann_filtered_ivfpq composite",
    "ann_pq_rerank" -> "retrieve-then-rerank: the ADC shortlist (codes + broadcast LUT, the ann_pq shape) narrows to kAdc=30 per query, then the exact cosine re-rank joins raw vectors for the SHORTLIST alone — |Q|·30 vector fetches, the corpus is never rescanned for reranking",
    "ann_filtered_rerank" -> "three-stage serving composite: label+cell equality in the candidate JOIN KEY → ADC shortlist over codes only → exact rerank of kAdc raw vectors per query — each stage strictly shrinks the set before the next touches anything heavier",
    "q_pit_join" -> "point-in-time correctness: SCD2 history builds from ONE full-outer join; the as-of resolution shuffles events and history on the SAME key and selects the latest version ≤ t with one window — linear in |events|+|history|, never an interval-join explosion",
    "q11_important_stock" -> "TPC-H Q11: region→nation→supplier collapses to a broadcast key dim BEFORE the fact scan; positions aggregate on shrinking keys ((part,supp) → part); the scalar (total, n_parts) is a broadcast 1-row crossJoin — the decorrelated scalar-subquery plan declared directly; the part-level rollup localCheckpoints so the kept-rows branch and the scalar total share ONE fact scan (the scan below is that RDD — without the cut Catalyst planned TWO full lineitem passes)",
    "q20_potential_promotion" -> "TPC-H Q20: the name-filtered part dim broadcasts into the fact scan; the correlated two-year comparison is ONE partial-aggregable conditional rollup (two sum(CASE)s — never a self-join or per-year re-scan); qualifying keys enter supplier as LEFT SEMI (existence, no fan-out, no distinct); nation rides broadcast",
    "stream_rocksdb_state" -> "the state-BACKEND surface: same cross-batch windowed aggregation as stream_windowed_counts but with streaming state in RocksDBStateStoreProvider (off-heap, disk-backed — the 100 TB key-universe path) via a conf-scoped provider override; the backend must be plan- and hash-invisible, which is exactly what this audit + its oracle check",
    "q_join_strategy_hints" -> "the strategy-hint override surface: the SAME logical fact⋈dim join plans as THREE different operators in one tree — BroadcastHashJoin (broadcast hint), ShuffledHashJoin (shuffle_hash), SortMergeJoin (merge) — each overriding what AQE would pick; graded on hash-identical rollups, the physical-choice-is-invisible claim",
    // r10 wave 2: the Spark-4-native surfaces
    "q_variant" -> "the VARIANT path: parse_json/variant_get compile to scan-speed projections (StaticInvoke over the binary variant — no shuffle, no UDF); at 100 TB one binary column absorbs heterogeneous payloads and typed paths extract at scan time instead of re-parsing JSON strings per query",
    "q_collation" -> "collation-aware grouping: the UTF8_LCASE group key makes the ENGINE's hash/equality fold case variants inside the standard two-phase HashAggregate — no lower() rewrite of the data, same exchange shape as any groupBy",
    "ingest_xml" -> "from_xml is a per-row projection over the scan (XmlToStructs — no DOM stage, no shuffle before the presentation sort); schema-on-read for the 'partner feed' format at scan parallelism",
    "stream_transform_with_state" -> "transformWithStateExec over RocksDB: ONE exchange on the grouping key, then per-key named-state updates (fixed-width ValueState snapshot per user — never the event list); the append emission log collapses batch-boundary-independently via the argmax-n aggregate",
    "stream_state_inspect" -> "the state-store READER: checkpointed streaming state scanned as a BATCH DSv2 table (StateScan — partition-parallel over the store's shards, no stream replay); the ops/debug surface for 100 TB stateful pipelines, graded bit-exact against the batch GROUP BY",
    "q_sql_udf" -> "SQL UDFs (scalar + TABLE function): the analyzer INLINES the bodies (ResolveSQLFunctions), so the plan is the plain scan→filter→two-phase HashAggregate it would be with the expressions written inline — the function indirection costs nothing, stays in whole-stage codegen, and pushdown sees through it (l_quantity filter in PushedFilters)",
    "q_observe_metrics" -> "df.observe/CollectMetrics: the audit aggregates ride the SAME scan as the pipeline's write action — zero extra pass at 100 TB; the graded output is the O(1) observed metrics row, so the plan below the CollectMetrics node is the noop-write pipeline itself",
    "data_span_corrupt" -> "T5 span corruption: sentinel ids are a CLOSED FORM of the word ordinal ((wi-3) div 7 — no window, no running count), so the whole op is posexplode → codegen token projections → ONE shuffle on doc for the ordered per-doc reassembly (ObjectHashAggregate state = one document)",
    "q_metadata_columns" -> "_metadata.file_path/row_index are generated AT the parquet scan (constant-per-file / position columns — no extra pass, no shuffle); the rollup is one two-phase HashAggregate keyed by file",
    "q_theta_sketch" -> "Datasketches theta: one sketch per audience via theta_sketch_agg (partial-aggregable — 4 KB blobs merge through the exchange), set algebra (union/intersection) on the TWO final blobs in a 1-row broadcast crossJoin; the exact adjudication legs are the standard distinct + conditional rollup",
    "stream_state_changelog" -> "the state CHANGE FEED: RocksDB changelog checkpointing journals each batch's puts; the statestore source replays the journal partition-parallel as a batch table, and the last-write-per-key reconstruction is one max_by HashAggregate — state audit with NO stream replay",
    "q_hll_union" -> "mergeable sketch tables: stage 1 is one partial-aggregable hll_sketch_agg per (audience, day); stage 2 unions the 4 KB SKETCH BLOBS (hll_union_agg — raw events never re-scanned); the exact adjudication legs are standard distinct rollups sharing the scan",
    "q_udtf_ngrams" -> "native Generator UDTF through SQL LATERAL VIEW: the plan is scan → Generate graft_pos_ngrams (per-partition streaming fan-out, NO shuffle introduced, no per-doc array materialization) → two-phase HashAggregate; same Generate operator explode lowers to, custom row logic inside",
    // r10 wave 5: the Spark-4 SQL-language surfaces
    "q_recursive_cte" -> "native WITH RECURSIVE (UnionLoop): each round is ONE equi-join of the live frontier against the dimension + a union — the frontier shrinks monotonically so per-round work is frontier-bounded, and depth is log₈(N) (4 rounds at sf0.01, ~7 at 100 TB); the standard SQL recursion surface, with the pointer-doubling operator (q_recursive_hierarchy) the declared deep-chain path (O(log depth) rounds vs linear)",
    "q_pipe_syntax" -> "SQL pipe syntax: the |> stages are pure PARSER sugar — the plan is the identical pushed scan filter → projection → two-phase HashAggregate → HAVING filter → sort the classic form compiles to; zero new operators, zero plan cost, graded hash-identical against the classic restatement",
    "q_param_sql" -> "parameterized SQL + IDENTIFIER: named parameters bind as LITERALS at parse time (the :floor bound shows in PushedFilters like a hand-written constant) and IDENTIFIER() resolves table/column names injection-safe — the bound plan is byte-identical to the hand-written query the oracle states",
    "q_session_vars" -> "session variables: the SET VAR aggregate ran ONCE up front; the graded query sees the variable as a foldable LITERAL — the threshold is a constant in the Filter (no scalar-subquery join, no re-plan per query): compute the knob once, parameterize the fleet of queries with it",
    "q_execute_immediate" -> "EXECUTE IMMEDIATE: the two dynamic executions (statement text from a variable, ? params bound per run, results INTO variables) each planned as a plain pushed scan + two-phase aggregate at execute time; the graded plan below is the O(1) variable read-back — the data-sized work happened in the INTO statements",
    "q_sql_script" -> "SQL scripting: WHILE is DRIVER-side control flow — each of the 5 rounds planned as an independent pushed scan + aggregate at script-execution time (fixed round count bounds total work; cache the input once at cluster scale); the script runs eagerly, so the returned plan is its materialized 1-row result (LocalTableScan) — the data-sized work already happened inside the rounds",
    "q_approx_topk" -> "approx_top_k frequent-items sketch: bounded sketch state merges PARTIALLY through the exchange (one fixed-size summary per partition — never |distinct keys| rows), the built-in sibling of the Misra-Gries UDAF; exact at the graded cardinality, tie-free boundary verified at both SFs",
    "stream_state_timers" -> "event-time TIMERS (transformWithState, TimeMode.EventTime): per-key close-out emitted by handleExpiredTimer when the WATERMARK crosses last+gap — push-based idle-entity expiry with NO polling scan; state is one fixed-width cell + one timer entry per open key, evicted on fire; the day-based key confines each key to one staged batch, collapsing the protocol to the oracle's batch-independent fires-iff-expiry<=final-watermark contract (boundary inclusivity and the AvailableNow final sweep pinned empirically in StreamingSpec)",
    "ingest_avro" -> "Avro container ingest WITHOUT the connector jar (offline-absent, the Kafka situation): binaryFile scan → per-payload DataFileStream decode in mapPartitions — parallel BY FILE, one codec context per payload, deflate blocks decompressed in-task; Avro blocks are sync-marker splittable, so at 100 TB the same kernel hangs off a block-splitting DSv2 reader — per-file parallelism over many shards is the honest offline form",
    "ingest_avro_split" -> "BLOCK-splitting Avro DSv2 (the 100 TB form ingest_avro's note promised): one multi-block container file plans as many byte-range tasks (>1 required in-code); each task sync-aligns its range and decodes exactly the blocks starting inside it — the avro-mapred split discipline, so a 10 GB shard is ~80 parallel tasks, not one; driver reads only the header (schema), never data",
    "ingest_avro_pruned" -> "COLUMN PRUNING pushed into the AvroSplit DSv2 (SupportsPushDownRequiredColumns): the 2-column projection narrows the scan's ReadSchema (required in-code), so only requested fields are converted/materialized per row — Avro is row-oriented (no I/O skip), but at a 50-field 100 TB shard the per-field decode and row width ARE the cost; plan shows the narrowed ReadSchema, not scan-then-project",
    "ingest_avro_embeddings" -> "NESTED array<float> through the block-splitting Avro DSv2 — embeddings-in-Avro, the real LLM-estate shape: same sync-aligned byte-range tasks, per-field converters built once per reader (GenericArrayData per row, no per-element boxing logic in the loop); graded element-exact via posexplode (a Generate, per-partition streaming fan-out) against the parquet original",
    "q_profile_approx_solo" -> "the 100 TB profile pass with NO exact leg in the plan: one 6-way column stack (explode) scanned once; per-column counts and the graft-HLL register maxima are partial-aggregable HashAggregates (register state ≤ 256 rows/column through the exchange); the estimate hash-grades against the shared DuckDB register replay — solo cost is the point, vs q_profile's 6-way countDistinct expand",
    "stream_restart_recovery" -> "checkpoint-restart recovery graded: a stateful windowed agg runs AvailableNow over 2 of 3 tertiles, STOPS, new input lands, and a NEW StreamingQuery resumes the SAME checkpoint — commit log must append strictly (require), state must restore and merge only the new slice (DuckDB hash over the WHOLE fixture); the graded plan below is the final complete-mode snapshot — the exactly-once work is the cross-restart protocol itself",
    "stream_restart_tws" -> "checkpoint-restart recovery of USER-DEFINED state (transformWithState ValueState on RocksDB): run over 2 of 3 tertiles, stop, restart the same checkpoint on new input — commit log must append strictly (require), and the restored per-user account must CONTINUE (argmax-n over the union of both runs' emission logs hash-grades against the whole-fixture batch rollup); the v2-named-state analog of stream_restart_recovery's engine-buffer grade",
    "stream_task_retry_rocksdb" -> "the stream_task_retry protocol against the RocksDB state store — the backend a 100 TB deployment actually runs: the aborted task must roll back its native store instance and the retry must reload the last committed checkpoint version; same in-code failure proofs, same whole-fixture hash grade (backend invisible to exactly-once)",
    "q_time_travel_delete" -> "VERSIONED DELETES on the merge-on-read table: a tombstone commit is O(|keys|) (no table rewrite); snapshots at/after it exclude the keys, snapshots before still show them (audit/legal-hold reads), and a later upsert revives a key last-writer-wins; the tombstone marker rides inside the max_by merge struct and never reaches an output schema; physical erasure composes with vacuum (retention past the delete reclaims the pre-delete bytes)",
    "q_table_changes" -> "CHANGE DATA FEED on the versioned table (the table_changes(from,to) read): the delta files ARE the log — no snapshot diffing; per-commit insert/update tags from ONE fromV membership probe + a min-version aggregate over the range's deltas (both shuffle on the key once; the delta side broadcasts at scale); compaction in the range contributes nothing — feeds incremental downstream maintenance (re-embed only changed docs)",
    "q_time_travel_point" -> "POINT LOOKUP with FILE SKIPPING on the versioned table: every commit records its file set's [min,max] key range in the manifest (stats read from the written bytes, O(|delta|)); snapshotAt prunes file sets that cannot contain a queried key BEFORE the merge and pushes the key filter below the union so it reaches every surviving parquet scan — the in-query require proves a disjoint-range delta never enters the plan; at 100 TB a key read costs the overlapping file sets, never the chain",
    "q_time_travel_bucketed" -> "BUCKETED COMPACTION: compact(buckets=N) range-partitions the rewritten base on the merge key (one repartitionByRange — no shuffle beyond the rewrite itself) and records per-FILE min/max manifest stats, so a post-compaction point lookup prunes to the buckets that can hold its keys (required in-code: strictly fewer files than the base); the full-snapshot half of the hash grade proves bucketing is semantically invisible",
    "pipeline_incremental_reindex" -> "INCREMENTAL INDEX MAINTENANCE from the change feed: the IVF assignment index updates from changes(from,to) ALONE — net per-key effect via one max_by on the feed (delta files only, required in-code), nearest-centroid reassignment joins the k×dim broadcast seed centroids, stale rows retire via anti-join on the bounded changed-key set; hash-graded against a FULL REBUILD of the target state, so maintenance cost ∝ |changes| while the result is indistinguishable from reindexing the corpus",
    "stream_versioned_sink" -> "EXACTLY-ONCE VERSIONED STREAMING SINK: foreachBatch is at-least-once, so each micro-batch commits via upsertOnce(batch, txn=batchId) — the manifest records the txn id next to the delta, and the graded query REPLAYS every batch (second upsertOnce, same id) requiring the same version back with nothing re-committed (the public Delta txn/txnVersion design); within-batch dedup is one max_by struct, across batches LWW on version order; final snapshot hash-equals the per-user last event over the whole stream",
    "q_time_travel_vacuum" -> "RETENTION on the versioned table: vacuum(keepFrom) deletes manifests below the horizon and every data file set no surviving manifest references (reclaim proven in-code: only the compacted base + its manifest remain on disk; sub-horizon reads fail loudly); the hash grade proves the reclaim is SAFE — the surviving snapshot still equals the full operation replay",
    "q_schema_evolution" -> "ADDITIVE schema evolution on the versioned table: a delta introduces a column the base lacks — merge-on-read fills null for rows whose latest write predates it (no base rewrite, no backfill job: the O(|delta|) commit property survives schema change), and historical snapshots keep their own schema (required in-code: v0 does not show the column)",
    "q_time_travel" -> "TIME TRAVEL on a merge-on-read versioned table (operators/TimeTravel — immutable manifests + data files, the public Hudi-MOR/Iceberg design): upserts commit O(|delta|) writes, never O(|table|); a snapshot read at version N is ONE partial-aggregable max_by over base+deltas≤N (one shuffle on the key, no window); compaction resets read cost to a pure base scan — required in-code via inputFiles — while being content-identical (the v3-equals-v2 half of the hash grade); the dataset-reproducibility primitive a training estate pins runs to",
    "stream_task_retry" -> "TASK-LEVEL fault tolerance graded: a one-shot transient failure thrown INSIDE the stateful result stage of micro-batch 2 (after two batches of carried window state loaded+updated, before the state-store commit) — Spark aborts the uncommitted store changes, retries the task, reloads the last committed version, reapplies exactly once; throw-consumed AND successful-retry-attempt both machine-checked (require), final state hash-graded against the whole-fixture batch aggregate — the routine-at-100TB failure mode the restart grades (graceful stops) cannot cover",
    "stream_join_then_window" -> "TWO stateful operators, ONE checkpoint (SPARK-42376): stream-stream interval join (state keyed on user_id, evicted past l_ts+6h under the propagated watermark) feeding a 1-day tumbling-window agg whose close watermark the engine derives from the join's event-time delay — no watermark re-declaration; graded as sink ∪ open-agg-state (statestore source, operatorId 0), which equals the batch join+window aggregate independent of where the close boundary falls")

  /** Flags the automated sweep is allowed to see, with the reason each is
    * the intended plan (kept next to the lint so a new hit is loud). */
  val ExpectedFlags: Map[String, Map[String, String]] = Map(
    "q_null_semantics" -> Map(
      "BNLJ" -> "the NOT IN leg IS Spark's null-aware anti join — BroadcastNestedLoopJoin LeftAnti is the only operator with that null contract"),
    "q_sql_surface" -> Map(
      "BNLJ" -> "the scalar-subquery comparison broadcasts a 1-row aggregate"),
    "q_referential_integrity" -> Map(
      "BNLJ" -> "orphan percentage crosses against a broadcast 1-row total"),
    "validate_monotonic" -> Map(
      "BNLJ" -> "the final crossJoin is two 1-row summary aggregates (within-partition inversions × seam inversions)"),
    "text_tfidf" -> Map(
      "BNLJ" -> "the corpus nDocs 1-row aggregate broadcasts onto the (doc,word) table for the IDF term"),
    "text_bm25" -> Map(
      "BNLJ" -> "the corpus stats (N, avgdl) 1-row aggregate broadcasts onto the per-term scores"),
    "q_range_join" -> Map(
      "BNLJ" -> "the intended plan: a non-equi band predicate against a broadcast 3-ROW interval dimension — the fact side is scanned once, never shuffled"),
    "q_ab_sequential" -> Map(
      "BNLJ" -> "the SPRT boundary crossings are broadcast 1-row aggregates (first-cross index, totals)"),
    "dedup_semantic" -> Map(
      "BNLJ" -> "the small-regime exact leg scores blocks against broadcast block stats; the LSH-banded equi-join regime takes over past the 10k-block threshold"),
    "data_mixture_sample" -> Map(
      "BNLJ" -> "the max-count scaling factor is a broadcast 1-row aggregate crossed onto the label table"),
    "cluster_assign" -> Map(
      "BNLJ" -> "point × broadcast(k centroids) assignment product — fan-out bounded by k, the standard k-means assignment shape"),
    "ann_recall_eval" -> Map(
      "BNLJ" -> "the exact leg IS the brute-force baseline: corpus scanned once against the broadcast 10-query side (the ann_bruteforce contract); the recall join itself is a hash equi-join")
  )

  /** One sweep row: operator census + lint flags for a query's pre-AQE
    * physical plan (subqueries included). */
  final case class SweepRow(name: String, census: String, flags: Seq[String])

  def sweepQuery(spark: SparkSession, sfDir: String, name: String): SweepRow = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

    val df = SparkEntry.queries(name)(spark, sfDir)
    val phys = df.queryExecution.sparkPlan
    val nodes = phys.collectWithSubqueries { case p => p }

    // a subtree is "bounded" if anything between the scan and here already
    // collapsed the data (aggregate, limit, top-k, or a leaf-only tree)
    def bounded(p: SparkPlan): Boolean = p.collect {
      case _: BaseAggregateExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: LocalLimitExec => true
      case _: GlobalLimitExec => true
      case _: CollectLimitExec => true
    }.nonEmpty

    def count[T](pf: PartialFunction[SparkPlan, T]): Int =
      nodes.collect(pf).size

    val shuffles = count { case e: ShuffleExchangeExec => e }
    val singleRaw = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    val singleUnbounded = singleRaw.count(e => !bounded(e.child))
    val bhj = count { case j: BroadcastHashJoinExec => j }
    val smj = count { case j: SortMergeJoinExec => j }
    val shj = count { case j: ShuffledHashJoinExec => j }
    val bnlj = count { case j: BroadcastNestedLoopJoinExec => j }
    val cart = count { case j: CartesianProductExec => j }
    val hashAgg = count { case a: HashAggregateExec => a }
    val objAgg = count { case a: ObjectHashAggregateExec => a }
    val sortAgg = count { case a: SortAggregateExec => a }
    val windows = nodes.collect { case w: WindowExec => w }
    val globalWinUnbounded =
      windows.count(w => w.partitionSpec.isEmpty && !bounded(w.child))
    val sorts = count { case s: SortExec => s }

    val flags = Seq(
      (cart > 0) -> "CARTESIAN",
      (bnlj > 0) -> "BNLJ",
      (singleUnbounded > 0) -> "1PART-UNBOUNDED",
      (globalWinUnbounded > 0) -> "GLOBAL-WINDOW-UNBOUNDED"
    ).collect { case (true, f) => f }

    val joins = Seq("bhj" -> bhj, "smj" -> smj, "shj" -> shj, "bnlj" -> bnlj,
      "cart" -> cart).collect { case (k, v) if v > 0 => s"$k:$v" }
    val aggs = Seq("hash" -> hashAgg, "obj" -> objAgg, "sort" -> sortAgg)
      .collect { case (k, v) if v > 0 => s"$k:$v" }
    val census = Seq(
      s"shuffles=$shuffles" + (if (singleRaw.nonEmpty) s" (1part=${singleRaw.size})" else ""),
      if (joins.nonEmpty) s"joins=${joins.mkString(",")}" else "",
      if (aggs.nonEmpty) s"aggs=${aggs.mkString(",")}" else "",
      if (windows.nonEmpty) s"windows=${windows.size}" else "",
      if (sorts > 0) s"sorts=$sorts" else ""
    ).filter(_.nonEmpty).mkString("; ")
    SweepRow(name, if (census.isEmpty) "leaf-only" else census, flags)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.local()

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of representative graded queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` against `$sfDir`.\n")
    sb.append("Each plan is the `explain(\"formatted\")` operator tree ")
    sb.append("(details section trimmed); the note says what to look for.\n")
    Selected.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val full = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // keep the tree + the scan details (PushedFilters/ReadSchema lines)
      val tree = full.split("\n\n").head
      val details = full.split("\n")
        .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema") ||
          l.contains("PartitionFilters"))
        .map(_.trim).distinct
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n$tree\n")
      if (details.nonEmpty) sb.append(details.mkString("", "\n", "\n"))
      sb.append("```\n")
    }
    // full-registry automated sweep over every query the curated section
    // does not cover: operator census + red-flag lint on the pre-AQE plan
    val curated = Selected.map(_._1).toSet
    val rest = SparkEntry.queries.keys.toSeq.sorted.filterNot(curated)
    sb.append("\n## Appendix: full-registry automated sweep\n\n")
    sb.append(s"Every registered query not audited above (${rest.size} of ")
    sb.append(s"${SparkEntry.queries.size}) — operator census of the pre-AQE ")
    sb.append("physical plan (subqueries included) with red-flag lint: ")
    sb.append("`CARTESIAN` (any CartesianProduct), `BNLJ` (any ")
    sb.append("BroadcastNestedLoopJoin), `1PART-UNBOUNDED` (a SinglePartition ")
    sb.append("shuffle whose input subtree has no aggregate/limit bound — a ")
    sb.append("raw-data funnel through one task), `GLOBAL-WINDOW-UNBOUNDED` ")
    sb.append("(an empty-partition window over unbounded input). Flags listed ")
    sb.append("under *expected* carry the justification from ")
    sb.append("`PlanDump.ExpectedFlags`; anything else fails the lint.\n\n")
    sb.append("| query | plan census | flags |\n|---|---|---|\n")
    var unexpected = List.empty[(String, String)]
    rest.foreach { name =>
      val row = sweepQuery(spark, sfDir, name)
      val expl = ExpectedFlags.getOrElse(name, Map.empty)
      val rendered = row.flags.map { f =>
        expl.get(f) match {
          case Some(_) => s"$f (expected)"
          case None => unexpected ::= (name, f); s"**$f (UNEXPECTED)**"
        }
      }
      sb.append(s"| `$name` | ${row.census} | ${rendered.mkString(", ")} |\n")
    }
    sb.append("\nExpected-flag justifications:\n")
    ExpectedFlags.toSeq.sortBy(_._1).foreach { case (q, fs) =>
      fs.foreach { case (f, why) => sb.append(s"- `$q` $f — $why\n") }
    }
    sb.append("\n## Appendix: bench `unstable[]` triage (round 11)\n\n")
    sb.append(
      """The round-10 full bench flagged six queries whose in-suite
        |median/min drift exceeded the variance gate (`ann_bruteforce`,
        |`data_importance_sample`, `data_split_assign`, `dedup_semantic`,
        |`q_corr_agg`, `q_mann_kendall`). Each was re-run in fresh JVMs
        |(2 isolated processes × median-of-3, sf0.1, the bench's own
        |SPARK_GRAFT_ONLY path). Verdict: **environmental, not
        |plan-level** — every isolated run is tight (≤10% spread except
        |dedup_semantic at ~15%, its float/GC-bound LSH scoring) and
        |lands at or below the in-suite *min*, i.e. the in-suite median
        |inflation is suite co-tenancy (JIT/GC/page-cache interference
        |from neighboring queries), not recompute-vs-cache in the plan.
        |No run shows monotone growth or integer-multiple steps (the
        |recompute signatures). Measured isolated medians (s):
        |ann_bruteforce 0.48/0.52; data_importance_sample 1.98/2.06;
        |data_split_assign 0.38/0.34; dedup_semantic 1.57/1.93;
        |q_corr_agg 0.90/0.80; q_mann_kendall 0.51/0.64 — vs round-10
        |in-suite median→min: 0.39→0.21, 3.16→2.05, 0.23→0.15,
        |1.99→1.29, 1.35→0.89, 0.54→0.36. The bench's per-run
        |`isolated{}` map re-measures any flagged query on every full
        |run, so this stays self-diagnosing.
        |""".stripMargin)
    sb.append("\n## Appendix: `text_bpe` drift triage (round 12)\n\n")
    sb.append(
      """The round-11 verdict flagged `text_bpe` as the round's only
        |>1.5× move (0.62 → 0.97 s in-suite) on a byte-unchanged kernel
        |(the round-11 TextAnalysis diff was Scaladoc-only). Isolated
        |rerun this round (fresh JVM, SPARK_GRAFT_ONLY=text_bpe, sf0.1,
        |median-of-3): **0.77 s median / 0.68 s min** — between the two
        |rounds' in-suite numbers and within the co-tenancy band the
        |round-11 triage above pinned for the round-10 six. No plan
        |change exists to find (the kernel is byte-identical); verdict:
        |**suite co-tenancy, de-flagged.**
        |""".stripMargin)
    sb.append("\n## Appendix: round-13 bench re-anchor + r12 mover adjudication\n\n")
    sb.append(
      """Round 12 closed with the first cross-round regression signal in
        |three rounds (1.23x median on the 365-query common subset) on
        |byte-mostly-unchanged code, so round 13 opened — before any code
        |change — with a controlled ANCHOR PAIR: the full 374-query
        |registry run twice back-to-back from a FROZEN classpath snapshot
        |of the r12-identical tree (`anchor_cp_r13/`, committed script
        |`tools/run_bench_anchor.sh`, since folded into `tools/run_bench.sh`),
        |so recompiles during the round
        |cannot perturb the measurement. Results
        |(BENCH_r13_anchor_{a,b}.json): A = 360.8 s median / 321.1 s min,
        |B = 336.6 s / 297.2 s — 7% apart on IDENTICAL bytes (the ambient
        |band), zero A-vs-B per-query min-of-3 spreads above 2x, zero
        |failures, and `q_time_travel_delete` (unbenched in r12) now has
        |rows in both anchors. vs the r12 full run on the 373-query
        |common subset: 1.09x median / 1.08x min — the r12 "regression"
        |does not reproduce on its own bytes.
        |
        |Each of the eight r12 >2x min-of-3 movers was adjudicated
        |against the pair. Seven snapped back to their r11 levels in
        |BOTH anchors on byte-identical code — `q_sql_script`
        |2.05 -> 0.74/0.76 s min (r11: 0.62), `q_sql_udf` 0.84 -> 0.33/
        |0.35 (0.30), `q_sql_surface` 0.88 -> 0.37/0.36 (0.34),
        |`q_sql_native_funcs` 0.87 -> 0.38/0.34 (0.35), `q_string_agg`
        |0.66 -> 0.41/0.38 (0.32), `q_survival_km` 0.59 -> 0.24/0.30
        |(0.21), `q_seasonality` 0.45 -> 0.26/0.30 (0.22) — verdict:
        |**suite co-tenancy during the r12 run, de-flagged** (consistent
        |with the r12 observation that the movers clustered alphabetically
        |around the then-new versioned-table queries' disk traffic). The
        |eighth, `q_hll_sketch`, stayed at ~0.88/0.80 s in both anchors
        |(r11 in-suite: 0.51/0.37); its r12 kernel diff is scaladoc +
        |DuckDB-oracle-side only (git c480f86 — the benched Spark plan is
        |byte-identical), and two further ISOLATED fresh-JVM reruns from
        |the frozen classpath landed 0.95/0.93 and 0.95/0.91 s — tight to
        |1% of each other. Verdict: **environment re-basing** (today's
        |sandbox runs this register-array aggregate slower than r11's
        |did), self-consistent across both anchors and both isolated
        |JVMs; no plan change exists to find. The anchors ARE the new
        |cross-round baseline; r13+ deltas should be read against them,
        |not against r11/r12 in-suite numbers.
        |""".stripMargin)
    if (unexpected.isEmpty)
      sb.append("\n**Sweep lint: 0 unexpected flags across the registry.**\n")
    else {
      sb.append(s"\n**Sweep lint: ${unexpected.size} UNEXPECTED flags:** ")
      sb.append(unexpected.map { case (q, f) => s"$q:$f" }.mkString(", "))
      sb.append("\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out; unexpected flags: ${unexpected.size}")
    unexpected.foreach { case (q, f) => println(s"  UNEXPECTED $q $f") }
    spark.stop()
  }
}
