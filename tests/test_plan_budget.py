"""Plan-shape budgets for flagship catalog queries.

A per-query wall cap (test_bench_gate) catches queries that got SLOW;
this fence catches plans that got WIDER before they get slow enough to
trip it — the r4 dsir_weights case (an operator referenced its exploded
feature stream from 5 branches and re-ran the corpus explode 5×; at
sf0.01 that still fit the wall cap, at sf0.1 it was 17.7 s).

Budgets are ceilings on the CURRENT measured plan (shuffle exchanges,
broadcast exchanges, Generate/explode nodes), not aspirations — a new
Spark version or an edit that adds a shuffle/explode must either beat
the budget or consciously raise it here with a comment.
"""

from __future__ import annotations

import re

import pytest

# name -> (max shuffle exchanges, max broadcasts, max generates).
# Measured on Spark 4.1 at sf0.01 (AQE on, shuffle=32); see git log for
# the recording session. Generates count corpus explodes — the most
# expensive node class for text operators.
BUDGETS = {
    "dup_spans": (3, 1, 2),
    "dup_span_removal": (4, 2, 3),
    # dsir: the pre-aggregated form. The naive form measured (E=6, G=5
    # with 5 FULL-corpus explodes); here the 5 Generates sit behind one
    # reused per-(doc,source,bucket) agg, so the dominant cost runs
    # once. Budget pins the agg-first shape via the exchange count.
    "dsir_weights": (10, 4, 5),
    "bpe_pair_counts": (3, 0, 2),
    "pq_search": (3, 3, 4),
    "ivf_pq_search": (9, 6, 4),
    # r12: gated broadcast of checkpointed candidate pairs + ids in the
    # restricted verify (+2 broadcasts); band-row checkpoint truncates
    # the duplicated signature subtree
    "minhash_lsh_pairs": (7, 5, 4),
    "bm25_search": (5, 1, 1),
    "tfidf_terms": (4, 1, 1),
    "exact_dedup": (2, 0, 0),
    # batch 28 (r9 second wave), measured at the recording state:
    # time travel rides the one key-window shuffle per side + final sort
    "cdc_time_travel": (4, 2, 0),
    # fingerprint join + 2 band-row builds + corpus guard window +
    # band join + best-candidate window + 2 assembly joins; the
    # corpus side is the half a real deployment persists bucketed
    "incremental_dedup": (8, 6, 4),  # r12 restricted verify: +2 gated broadcasts
    # pins the single-pass shape: per-key count agg + one window
    # exchange + final sort — the naive 3-branch form measured E=9
    "key_skew_profile": (3, 0, 0),
    # broadcast-only: anchor explode + two broadcast doc joins
    "containment_pairs": (0, 3, 1),
    # one fingerprint-window shuffle (two specs, same partitioning)
    "dedup_keep_best": (2, 0, 0),
    # block-band unpivot + one banded self-join (same shape family as
    # minhash_lsh_pairs, no signature groupBy: simhash is per-row)
    "simhash_near_pairs": (2, 1, 2),
    # lo-matview derivation (in-plan stand-in for the stored matview —
    # production pays only the changes_between branch) + delta agg +
    # final join
    "incremental_agg_maintenance": (9, 4, 0),
    # one (key, side-of-horizon) window + one bucket rollup
    "vacuum_plan": (4, 1, 0),
    # fp hash agg + split rollup + 3-row sort; collect_set (bounded at
    # 3 splits) keeps the distinct-split count out of a distinct-agg
    # expand, so the corpus shuffles ONCE on fp
    "leak_free_split": (3, 0, 0),
    # one per-source window sort; the rollup groups by the window's
    # partition key and reuses its exchange; + 20-row output sort
    "domain_top_cap": (2, 0, 0),
    # repartition spread + one feature-key window; the two mapInPandas
    # stages are narrow (no shuffle between encode and decode)
    "audio_energy": (2, 0, 0),
    # 1-row span agg + per-key conditional agg + event_type rollup +
    # 5-row sort; the one-pass OCC form — the naive two-filter
    # self-join shuffles the log three times and materializes the
    # conflict set as join output
    "txn_conflict_check": (4, 1, 0),
    # repartition spread + (query,dim) rank window + (query,neighbor)
    # membership window + distinct-agg expand pair + 4-row sort; ONE
    # Generate (the per-dim struct explode). The rank⋈rank join form
    # re-executed the corpus-scoring chain per consumer (E=11, G=3) —
    # the membership WINDOW keeps it a single chain
    "mrl_recall": (6, 1, 1),
    # ONE map-side-combinable hash agg (bit_xor merges like a sum) +
    # 60-row sort; the ordered-concat checksum would need an unbounded
    # per-group collect_list gather
    "corpus_manifest": (2, 0, 0),
    "line_dedup": (2, 1, 2),
    # assignment pinned at construction (narrow max_by argmax); final
    # plan = within-cluster self-join + dup agg/join
    "semdedup": (4, 0, 0),
    "event_dedup_window": (1, 0, 0),
    "salted_user_stats": (2, 0, 0),
    "sessionize": (1, 0, 0),
    "w8_robust_z": (2, 0, 0),
    # the full fallback suite as one linear plan: the dedup agg, the
    # pandas robust-z island's key shuffle, and one key shuffle for
    # the window passes over the island's output (new attributes, so
    # its partitioning is not reused); the flat-run mask and the
    # isolated groups are window columns, and the final per-type agg
    # reuses that partitioning (the join-back form measured E=7, B=2)
    "qc_full_suite": (3, 0, 0),
    "qc_accepted": (2, 0, 0),
    # second batch (recorded at the r4 final state)
    "ccnet_buckets": (5, 2, 3),
    "unigram_logprob": (4, 2, 3),
    "decontaminate": (3, 2, 0),
    "embed_near_dup": (3, 1, 2),
    "winnow_fingerprints": (1, 0, 1),
    "winnow_matches": (5, 1, 4),
    "sequence_pack": (1, 1, 0),
    "corpus_rollup": (1, 0, 0),
    "source_mixture": (3, 1, 0),
    "chunk_documents": (0, 0, 1),
    "repetition_stats": (4, 2, 2),
    "lang_id": (1, 0, 0),
    "hash_split": (1, 0, 0),
    "stratified_sample": (1, 0, 0),
    "text_quality": (0, 0, 0),
    "simhash": (1, 0, 0),
    "jaccard_pairs": (0, 3, 1),
    "embed_lsh_ann": (4, 1, 2),
    "pq_encode": (2, 1, 2),
    "heavy_hitters": (3, 1, 0),
    "vocab_coverage": (5, 1, 2),
    "dedup_report": (6, 1, 0),
    "asof_join": (1, 0, 0),
    "j3_range_join": (4, 1, 0),
    "sliding_rollup": (1, 0, 0),
    "hypertable_rollup": (2, 0, 0),
    "quality_classifier": (1, 1, 1),
    "blocklist_filter": (0, 0, 0),
    # 2 broadcasts: the wtab hint plus AQE converting the per-doc
    # score join to broadcast at small SF — both are fine shapes
    "curation_funnel": (4, 2, 1),
    # r5 corpus-assembly batch: prefix-sum fill is 2 exchanges (range
    # repartition + the 1-row total agg) + 2 broadcasts (offsets,
    # total); rebalance shuffles only the tiny per-source aggs
    "token_budget_fill": (2, 2, 0),
    "domain_rebalance": (3, 2, 0),
    # trained-centroid semdedup: assignment pinned at construction;
    # final plan = within-cluster self-join + dup agg/join over the
    # checkpointed assignment
    "semdedup_trained": (4, 0, 0),
    # merge table is a driver-built local relation (rounds ran at
    # construction time, the connected-components pattern)
    "bpe_train": (0, 0, 0),
    # checkpointed pre-aggs (bigram per-doc, vocab) leave a flat
    # surprisal join: bf agg + join exchanges, u1/u2/total broadcasts
    "bigram_lm_score": (3, 4, 0),
    # gram set pinned at construction; hit join (AQE-broadcast at
    # small SF) + per-doc agg
    "contamination_overlap": (3, 1, 0),
    # composition entry: rebalance branch + budget-fill branch + the
    # per-source rollup; shuffles are tiny aggs and doc_id joins
    "mix_report": (11, 8, 0),
    # trainer ran at construction; apply = one explode + per-doc agg
    # + the broadcast vocab join
    "bpe_apply": (1, 1, 1),
    # minhash band chain + jaccard verify + source lookups + rollup
    "cross_dedup": (11, 7, 4),  # r12 restricted verify: +2 gated broadcasts
    # per-row bit algebra + one broadcast bounds row + one hash agg
    "zorder_layout": (2, 1, 0),
    # one scan -> 3-way layout explode -> per-(layout,bucket) agg ->
    # per-layout rollup
    "layout_compare": (3, 1, 1),
    # r6 batch: ANN assignment pinned at construction (trainer +
    # candidate join + checkpoint); final plan = within-cluster
    # self-join + dup agg/join, same as semdedup_trained
    "semdedup_ann": (4, 0, 0),
    # range repartition (inside the checkpointed prefix-sum) + the
    # broadcast per-partition base offsets
    "corpus_shuffle": (1, 1, 0),
    "length_buckets": (1, 0, 0),
    # one key shuffle shared by rank + count windows
    "latest_snapshot": (1, 0, 0),
    # the Generate is the n_salts dim replication; stats agg + join
    # collapse to broadcast at small SF (AQE) — the shape holds
    "salted_join": (2, 2, 1),
    # prefix-sum exchange + total agg; offsets/total broadcasts (AQE
    # may add one more converting the rank join)
    "quality_deciles": (2, 3, 0),
    "tpch_q14_promo": (1, 1, 0),
    # two chained mapInPandas (narrow) -> hash agg on the fingerprint
    # -> count join (AQE-broadcast at small SF)
    "image_ahash": (3, 1, 0),
    # r6b warehouse batch
    "scd2_intervals": (1, 0, 0),
    # full-outer MERGE join: target + delta exchanges on the key
    "merge_upsert": (2, 0, 0),
    # round-9 CDC/merge-on-read batch: the 2 broadcasts are the
    # 1-row span-cut cross-join (two-pass scalar pattern); exchanges
    # are the span agg pair + the key windows (base resolution and
    # the post-union overlay re-shuffle); compaction adds the
    # 32-row-per-side full-outer bucket join
    "cdc_merge_on_read": (4, 2, 0),
    "cdc_changes_between": (4, 3, 0),
    "compaction_plan": (6, 2, 0),
    # cohort filters on each fact's own key column; lineitem is the
    # only join (broadcast semi against the filtered order keys)
    "forget_user_sweep": (4, 1, 0),
    # QI group agg (partial distinct expands to 2 exchanges) + the
    # 4-row class rollup + final sort
    "kanon_audit": (4, 0, 0),
    "value_percentiles": (1, 0, 0),
    # span agg + slot agg; the Generate is the per-group grid sequence
    "time_grid_ffill": (2, 1, 1),
    # CC ran at construction; final = broadcast join of the driver
    # label frame + one cluster-size window
    "embed_dup_clusters": (1, 1, 0),
    # three chained min-aggs + two left joins (AQE broadcasts at
    # small SF); shuffles carry only (user, ts)
    "event_funnel": (5, 5, 0),
    # distinct + first-day agg + per-cell distinct count
    "retention_cohorts": (4, 1, 0),
    # r6e TPC-H completion (measured at shuffle=32, AQE on).
    "tpch_q2_mincost": (2, 4, 0),
    "tpch_q4_latesemi": (1, 1, 0),
    "tpch_q9_profit": (1, 3, 0),
    "tpch_q11_value": (3, 8, 0),
    "tpch_q12_latemode": (1, 1, 0),
    "tpch_q15_topsupp": (3, 2, 0),
    "tpch_q16_suppcnt": (3, 2, 0),
    "tpch_q17_smallqty": (2, 2, 0),
    "tpch_q20_potential": (1, 3, 0),
    # per_supp feeds both the per-order rollup and the winner join;
    # Catalyst recomputes that narrow (okey,skey,date) subtree rather
    # than pinning it — 7 small keyed exchanges, deliberate (pinning
    # a lineitem-scale intermediate would be worse at 100 TB)
    "tpch_q21_waiting": (7, 3, 0),
    # r6f time-series/graph batch
    "ewma_series": (1, 0, 0),
    "acf_lags": (2, 1, 1),
    "cusum_changepoint": (4, 3, 0),
    "seasonal_hours": (3, 1, 0),
    "xcorr_daily": (3, 2, 0),
    # edges pinned at construction; plan = two-hop join + three aggs
    "triangle_counts": (6, 0, 1),
    # r6g governance batch: many SINGLE-ROW agg exchanges (one per
    # constraint table / FK relation), each carrying a few bytes
    "dq_checks": (16, 4, 4),
    "fk_orphans": (18, 12, 0),
    "sql_surface_q3": (1, 2, 0),
    "control_chart_days": (7, 3, 0),
    # r6h retail/SQL-surface batch. market_basket re-reads the narrow
    # deduped basket relation from four branches (counts, items, both
    # self-join sides) — 9 keyed exchanges of 2-column rows,
    # deliberate over pinning a lineitem-scale intermediate.
    "market_basket": (9, 4, 0),
    "rfm_segments": (3, 1, 0),
    # the whole rank family shares one (partition, order) spec: ONE
    # window exchange, zero extras
    "window_funcs_suite": (1, 0, 0),
    # intersect/except/union each plan as keyed aggs + semi/anti
    # joins over the two distinct user sets; 12 tiny exchanges
    "user_set_ops": (12, 1, 2),
    # as-of backward join (union+window, one user_id shuffle) + the
    # bucket rollup
    "attribution_last_touch": (2, 0, 0),
    # BFS rounds ran at construction (pinned frontier); final plan =
    # one hash agg over the checkpointed reached set
    "khop_reach": (1, 0, 0),
    # r6i scale-join batch: intervals explode onto the bin grid (the
    # one Generate) and join as a plain equi-join — AQE broadcasts at
    # sf0.01, shuffles at scale; distinct-agg adds the extra exchange
    "binned_range_join": (4, 2, 2),
    # bitset build runs at construction (bounded by m); final plan =
    # flagged scan agg + exact semi-join agg + result join
    "bloom_prune_join": (5, 3, 0),
    # distinct pairs agg -> per-type min-K window -> final agg
    "kmv_distinct": (4, 1, 0),
    # two chained hash aggs, map-side partials; no windows or joins
    "linreg_daily": (4, 1, 0),
    # r6j hypertable batch: one (series,day) window + agg (sort reused)
    "twa_daily": (3, 0, 0),
    "ohlc_hourly": (3, 0, 0),
    # bounds agg + grid Generate + the union's series-partition sort;
    # no joins — the as-of union formulation
    "gap_lerp": (4, 1, 1),
    # r6k reshaping batch: agg-first, melt after (Expand, no Generate)
    "unpivot_metrics": (3, 0, 0),
    # value-rank window + cut broadcast back onto the scan
    "winsorize": (4, 2, 0),
    # blocked (lang, length-bucket) self-join behind the hot-block
    # cap window; AQE broadcasts at small SF, shuffles at scale
    "fuzzy_join": (4, 2, 0),
    # per-user lag window + transition agg + per-state total window
    "event_transitions": (5, 0, 0),
    # daily partial agg -> weekly merge agg; both map-side combinable
    "rollup_merge": (4, 0, 0),
    # r6l embedding-algebra batch: pure per-row higher-order array
    # functions; the single exchange is the presentation sort
    "embed_feature_stats": (1, 0, 0),
    "embed_int8_quant": (1, 0, 0),
    # r6m suffix arrays, r13 direct form: ONE per-doc suffix-order
    # window (was 16 window execs through the doubling rounds), LCP
    # from the depth-char keys so the text join and its broadcast are
    # gone (B 1 -> 0); the positions explode appears once per
    # suffix_window_keys union leg (ascii byte-sliced / non-ascii
    # char-indexed), hence G = 2
    "suffix_repeats": (4, 0, 2),
    # global order: one window shuffle on the quantile-assigned range
    # id, LCP from the keys (no text re-join), boundary union, agg.
    # The persisted pass's build plan (2 Generates: ascii/non-ascii
    # key paths, 1 shuffle) is PRINTED TWICE inside InMemoryRelation,
    # so the text counter sees 2x the real nodes.
    "suffix_xdoc_repeats": (4, 2, 4),
    # r6o: gram group + pinned marks; ONE binned interval join
    # resolves both coverages (two boolean aggs), report joins
    # r9 sweep form: gram groupBy + join-back + sweep-event groupBy +
    # per-doc window sort; the char-explode Generates are gone
    "keepone_removal": (4, 2, 0),
    # r6n: d map-side-combinable sketch aggs + exact top-k rank +
    # d broadcast point lookups
    "cms_user_counts": (6, 5, 0),
    # hourly pre-agg + the calendar self-join on (event_type, h-24)
    # (the r7 gap-semantics fix: lag-24 was wrong on gappy grids) +
    # score agg. The legitimate keyed join re-executes the hourly
    # aggregate for the prev-day side (a 5th exchange; the pre-agg is
    # map-side combinable so the extra leg shuffles only (series,
    # hour) groups, not events rows). Broadcasts: the lazy cut scalar
    # + the prev-day side, which Spark's size estimate broadcasts at
    # sf0.01 (it would shuffle-join at scale — no hint forces it).
    "seasonal_naive_mae": (5, 2, 0),
    # r8 curation batch: explode -> two chained hash aggs, no joins
    "token_entropy": (1, 0, 1),
    # distinct-gram explode + min-agg + skinny join back + per-doc agg
    "ngram_novelty": (3, 1, 2),
    # the minhash_lsh_pairs chain + jaccard verify joins + source
    # rollup; AQE broadcasts the doc-side projections at small SF
    "dup_source_matrix": (11, 7, 4),  # r12 restricted verify: +2 gated broadcasts
    # ONE window sort per series carries all FIR lags + rn + lead
    "des_forecast_mae": (2, 0, 0),
    # (series, digit) hash agg + per-series total window + final sort
    "benford_digits": (3, 0, 0),
    # daily pre-agg (computed for both self-join sides) + pair agg +
    # tie agg + the tiny per-series join + final sort; AQE broadcasts
    # the 5-row sides at small SF
    "theil_sen_trend": (7, 2, 0),
    # r6p: ONE conditional struct-max agg diffs both snapshots
    "snapshot_diff": (3, 0, 0),
    # per-(user,day) gather agg + journey count + global top-k rank
    "top_paths": (3, 0, 0),
    # r10 batch: the dense-threshold inline-score shape — sig+vector+
    # norm carried through ONE broadcast band join, threshold filter,
    # survivor dedup + cid agg + doc-source join + source rollup +
    # sort; pre-score candidates never shuffle (14.6 -> 3.1 s at
    # sf0.1-x1 vs the shuffle-candidates form)
    "embed_decontaminate": (8, 2, 2),
    # chunk explode re-derives in the band/verify branches (the
    # dup_source_matrix convention: a narrow explode re-run beats
    # materializing corpus chunks) + the one banded self-join +
    # jaccard verify joins + doc rollup/hash joins
    "para_dedup": (12, 7, 8),  # r12 restricted verify: +2 gated broadcasts
    # GD rounds ran at construction (k-means discipline); final plan
    # = three 64-row checkpointed weight frames joined + sort
    # r12: constant-size weight frames broadcast in the trajectory
    # merge (2 SMJ exchange pairs -> 2 broadcasts)
    "quality_train": (2, 2, 0),
    # inference over the trained model: one explode + per-(doc,
    # source, bucket) agg + the broadcast 64-row model join + rollup
    "quality_train_apply": (3, 1, 1),
    # held-out eval: the per-doc score frame is checkpointed ONCE and
    # feeds both the confusion agg and the score-group prefix-sum AUC
    # (zero Generates in the final plan — the corpus explode ran at
    # construction); 1-row confusion × rank-mass broadcast cross
    "quality_train_eval": (3, 2, 0),
    # r11 batch: the BM25 top-20 is checkpointed ONCE (its two
    # consumers — rank list and anchor — would otherwise replay the
    # whole corpus scan + shuffle chain twice); the final plan is the
    # vector-side broadcast score + TakeOrdered + the 20x20 fusion
    # join. Zero Generates: the corpus explode ran at construction.
    "hybrid_rrf": (2, 2, 0),
    # same final shape as quality_train_eval (the shared _eval_frame):
    # checkpointed score frame -> confusion agg x prefix-sum AUC
    "quality_train_bigram": (3, 2, 0),
    # r11 wave 2: scan -> per-(type, register) max agg -> per-type
    # rollup -> sort; the shuffle carries <= n_types x 256 rows
    "hll_distinct": (3, 0, 0),
    # baked-literal centroids (zero broadcasts), narrow argmax on the
    # scan side, ONE per-cluster rank window + rollup + sort
    "cluster_balanced_sample": (2, 0, 0),
    # r12 lang-id: train output is the 3-way join of checkpointed
    # K x 128 weight frames + sort (measured E=4; B headroom for AQE
    # broadcast conversion of the tiny sides)
    "lang_id_train": (4, 2, 0),
    # inference: ONE snippet-trigram Generate + per-(doc, cand) agg
    # riding a broadcast of the trained model + argmax window + final
    # confusion rollup
    "lang_id_apply": (3, 1, 1),
    # eval: metric rollups over the once-checkpointed <= K x K
    # confusion frame — three tiny aggs + class left joins + sort
    # (measured E=5 B=0; B headroom for AQE broadcast conversion)
    "lang_id_eval": (5, 3, 0),
    # r12 batch 34: held-out explode + per-(doc,y,b) agg + broadcast
    # of the trained 64-row model + 10-bin rollup + sort (measured
    # E=3 B=1 G=1; +1 headroom each for AQE)
    "quality_calibration": (4, 2, 1),
    # one corpus explode + per-(lang,word) agg + broadcast of the
    # stashed vocab symbol counts + per-lang rollup + sort (measured
    # E=4 B=1 G=1)
    "tokenizer_fertility": (5, 2, 1),
    # closed-form waterfill: everything downstream of the ONE
    # checkpointed per-source agg runs on a #sources-row frame
    # (measured E=4 B=3 — the uncheckpointed form measured E=8 from
    # three corpus re-scans)
    "epoch_mix_plan": (5, 4, 0),
}


# Construction-time job caps: building a catalog query fires only
# parquet footer/schema reads (1 job per table, <= 6 for the 6-table
# TPC-H joins) — EXCEPT the documented iterative operators, which run
# driver-side rounds at build time. A cap breach means either a new
# eager corpus action (the heavy_hitters count() class of bug) or an
# iteration-count regression (trainer rounds doubling).
CONSTRUCTION_JOB_CAPS = {
    # r12 restricted-verify entries: eager candidate-pairs checkpoint +
    # the broadcast-gate count add 2 bounded construction jobs each
    "minhash_lsh_pairs": 10,
    "cross_dedup": 10,
    "dup_source_matrix": 10,
    "incremental_dedup": 10,
    "para_dedup": 11,
    # footer reads + the pairs pin/gate count (AQE stage jobs) + the
    # collect the driver finish runs on (measured 7 cold)
    "pagerank_purchases": 9,
    # LSH chain + the edge pin/gate count + the collect that the
    # driver union-find runs on (measured 8 cold)
    "dedup_clusters": 10,
    "embed_kmeans_ivf": 20,  # stats + seeds + 4 jobs per Lloyd round (measured 16)
    "sequence_pack": 8,  # distributed prefix sum: per-partition bases
    "pack_assignments": 8,
    "token_budget_fill": 8,  # distributed prefix sum: per-partition bases
    # count + the Lloyd trainer (stats + seeds + 4 jobs per round)
    # + assignment checkpoint. The final-assignment joins carry no
    # broadcast hints (AQE decides), so AQE stage jobs inflate the
    # count (measured cold at sf0.01: 25 / 27; 38 / 41 with the
    # earlier crossJoin + max_by trainer rounds).
    "semdedup_trained": 50,
    "semdedup_ann": 55,
    "bpe_train": 24,  # vocab build + per-round top-1 + sparse checkpoints
    "bpe_apply": 24,  # same trainer rounds at construction
    "bigram_lm_score": 8,  # two pre-agg checkpoints (bigram, vocab)
    "contamination_overlap": 8,  # distinct-gram checkpoint
    "semdedup": 10,  # repartition + pinned assignment checkpoint
    "mix_report": 16,  # distributed prefix sum over the survivors
    "corpus_shuffle": 8,  # distributed prefix sum: per-partition bases
    "quality_deciles": 8,  # distributed prefix sum: per-partition bases
    # near-dup pair chain + the edge pin/gate count + the collect
    # (measured 9 cold)
    "embed_dup_clusters": 11,
    # Q8 is the one SEVEN-table join in the catalog (lineitem, part,
    # orders, customer, supplier, nation, region): one footer/schema
    # job per table read, all metadata-only (measured 7, stable).
    "tpch_q8_share": 7,
    # edge-set localCheckpoint runs the bucket+pair stages at build
    # time (measured 6; headroom for an AQE stage split)
    "triangle_counts": 8,
    # edge pin + undirected pin + 3 bounded BFS rounds, each a
    # frontier join/anti-join checkpoint (measured 30, fixed rounds)
    "khop_reach": 34,
    # six FK relations span SEVEN tables (lineitem/part/supplier/
    # orders/customer/nation/region): one footer job per table
    # (measured 7 in isolation; the default cap of 6 only held when
    # an earlier probe had warmed one footer)
    "fk_orphans": 8,
    # bitset construction runs the vip-keys distinct + positions
    # collect at build time (bounded by m bits)
    "bloom_prune_join": 8,
    # global suffix order: the range-partition localCheckpoint + the
    # boundary first/last collect run at construction (measured 6)
    "suffix_xdoc_repeats": 8,
    # the marks localCheckpoint (measured 4)
    "keepone_removal": 6,
    # r10 trainer: feature-table checkpoint + n_train scalar + 3 GD
    # rounds of weight-frame localCheckpoints (measured 27)
    "quality_train": 32,
    "quality_train_apply": 32,  # same trainer rounds at construction
    # trainer rounds + the AUC prefix-sum's range-partition
    # localCheckpoint and totals action (measured 36)
    "quality_train_eval": 44,
    # r11: the BM25 top-20 localCheckpoint runs the text chain at
    # build time (measured 9 cold incl. AQE stages)
    "hybrid_rrf": 12,
    # bigram trainer rounds + eval prefix-sum (measured 39 cold; a
    # warm trajectory stash serves it in ~5)
    "quality_train_bigram": 48,
    # r12 multi-class trainer: feature/class checkpoints + n_train
    # scalar + 3 GD rounds (measured 31 cold; whichever of the two
    # entries runs first pays the build, the other is stash-warm)
    "lang_id_train": 36,
    "lang_id_apply": 36,
    # eval adds the confusion checkpoint + metric probes on top of a
    # possibly-cold trainer build
    "lang_id_eval": 40,
    # r12 batch 34: both ride stashed trainers (measured 28/19 cold,
    # 1 warm) — caps match their family's cold-build entries
    "quality_calibration": 32,
    "tokenizer_fertility": 24,
}
DEFAULT_CONSTRUCTION_CAP = 6

# Tree-drawing / codegen-stage prefix before the operator name on a plan
# line (":  +- *(3) Exchange ..." etc.).
_OP_PREFIX = re.compile(r"^[\s:+\-*()0-9]*")


def _count_op(plan: str, op: str) -> int:
    """Count plan lines whose operator IS ``op`` (prefix-stripped line
    starts with the name). Substring counting is wrong on two sides:
    'BroadcastExchange'/'ReusedExchange' contain 'Exchange', and a
    ReusedExchange line embeds the full description of the exchange it
    reuses (', Exchange hashpartitioning(...)'), which is not a new
    shuffle."""
    n = 0
    for line in plan.splitlines():
        body = _OP_PREFIX.sub("", line)
        if body == op or body.startswith(op + " ") or body.startswith(op + "("):
            n += 1
    return n


def test_catalog_construction_job_caps(spark, sf_dir):
    import __spark_entry__ as entry

    q = entry.queries()
    sc = spark.sparkContext
    q["tpch_q1"](spark, sf_dir)  # warm reader caches once
    over = {}
    for name in sorted(q):
        group = f"construction-probe-{name}"
        sc.setJobGroup(group, "")
        try:
            q[name](spark, sf_dir)
        finally:
            sc.setJobGroup("", "")
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        cap = CONSTRUCTION_JOB_CAPS.get(name, DEFAULT_CONSTRUCTION_CAP)
        if n_jobs > cap:
            over[name] = (n_jobs, cap)
    assert not over, f"construction ran more driver jobs than capped: {over}"


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_within_budget(spark, sf_dir, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    shuffles = _count_op(p, "Exchange")
    broadcasts = _count_op(p, "BroadcastExchange")
    generates = _count_op(p, "Generate")
    max_s, max_b, max_g = BUDGETS[name]
    assert p.count("CartesianProduct") == 0, p
    assert shuffles <= max_s, f"{name}: {shuffles} shuffle exchanges > budget {max_s}\n{p}"
    assert broadcasts <= max_b, f"{name}: {broadcasts} broadcasts > budget {max_b}\n{p}"
    assert generates <= max_g, f"{name}: {generates} Generate nodes > budget {max_g}\n{p}"
