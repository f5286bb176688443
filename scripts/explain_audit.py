#!/usr/bin/env python3
"""Dump the executed physical plans of representative queries to
PLANS.md with a per-plan property summary (broadcasts, exchanges,
pushed filters, scan schemas, Python stages).

Regenerate after planner-affecting changes:
    python3 scripts/explain_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    ("q1_pricing_summary", "scan → partial agg → single exchange"),
    ("q3_top_orders", "fact scan through broadcast joins, no pre-join shuffle"),
    ("q5_nation_revenue", "five-table join, all dims broadcast"),
    ("q_asof_last_click", "as-of join: one exchange on the key"),
    ("q_user_sessions", "sessionization: one exchange, two window passes"),
    ("cep_high_purchases", "CEP spat fast path: pure filter, no Python"),
    ("cep_signup_to_purchase", "CEP relaxed pair fast path: window, no Python"),
    ("cep_funnel_3step", "CEP 3-step relaxed chain fast path: windows, no Python"),
    ("cep_spending_burst", "CEP NFA kernel: one exchange into mapInPandas"),
    ("dedup_minhash_lsh", "signature fold + bucket-group candidates"),
    ("dedup_clusters_one_round", "pointer-jumping CC, ONE round (audit-only rounds=1 unit of the registered dedup_clusters): every exchange below is over a PAIR-GRAPH-sized frame (labels/edges, ~2 longs per row) — neighbor edge-join unioned with the label frame into ONE map-combined min-agg (the round-13 rewrite: the self row IS the closed neighborhood, so the old label merge join and its two exchanges are gone), plus the jump self-join; the corpus is never shuffled, and per-round lazy localCheckpoint truncates lineage so the 4-round plan is 4x this unit, nothing compounding (checkpointed RDDs surface as ExistingRDD with unknown partitioning, so join sides re-exchange — the price of bounded lineage; the repartition+persist alternative measured slower and re-opens the r10 CacheManager trap)"),
    ("dedup_ngram_jaccard", "inverted index: one posting shuffle, row-wise sizes"),
    ("sim_embedding_neardup", "bucket-grouped pairs, signatures computed once"),
    ("q_events_sliding", "sliding windows: map-side expansion, one exchange"),
    ("q_session_windows", "native session windows: one exchange on (key, window)"),
    ("cep_funnel_within", "within-bounded funnel: fast path + span filter, no Python"),
    ("doc_top_terms", "tf/df aggregates, term-keyed join, per-doc top-k window"),
    ("cep_signup_abandoned", "absence pattern: union + one window pass, no anti-join"),
    ("text_repetition", "repetition filters: single projection, no shuffle"),
    ("q_grouping_sets", "grouping sets: map-side expansion, one exchange"),
    ("q_above_nation_avg", "decorrelated scalar subqueries: aggregate + broadcast joins"),
    ("q_asof_next_error", "forward as-of: union + one window pass, one exchange"),
    ("doc_decontam", "decontamination: benchmark grams broadcast, corpus streams"),
    ("doc_mixture_sample", "stratified sample: pure per-row filter, no shuffle"),
    ("doc_mixture_upsample", "epoch upsampling: narrow explode row expansion, no shuffle"),
    ("q_range_join_clicks", "range join: bucketed equi-join, no nested-loop join"),
    ("doc_curation_funnel", "curation funnel: flag projection + survivor keeper agg + broadcast contam join"),
    ("doc_chunk_overlap", "chunking: tokenize + explode offsets + slice, no shuffle"),
    ("doc_vocab_coverage", "vocab coverage: keyed agg + TakeOrdered top-k, bounded window"),
    ("doc_pii_scrub", "PII scrub: one codegen regex projection, no shuffle"),
    ("sim_ann_ivf", "IVF ANN: literal centroids, broadcast probe join"),
    ("doc_pack_sequences", "sequence packing: sharded window prefix sum, rollup reuses partitioning"),
    ("doc_length_outliers", "length outliers: 20-row percentile stats broadcast, corpus unshuffled"),
    ("cep_error_runs_skiptolast", "SkipToLast kernel: one exchange into mapInPandas"),
    ("q_running_order_totals", "running totals: one keyed exchange, single window pass"),
    ("q_balance_quartiles", "ntile quartiles: partitioned window, agg reuses partitioning"),
    ("doc_split_assign", "split assignment: pure projection, one tiny-key agg exchange"),
    ("doc_global_shuffle", "global shuffle: per-shard windows, no total-order exchange"),
    ("text_token_histogram", "token histogram: integer bucketing, one tiny-key agg exchange"),
    ("doc_winnow_fingerprints", "winnowing: array-domain selection, no window operator, no algorithmic exchange (the one RoundRobin exchange is the spread() parallelism pin on the small-file scan — a no-op at scale)"),
    ("q_late_ship_priority", "Q4 semi join: set-shaped, date residual inside the join"),
    ("q_order_count_distribution", "Q13: outer join + two aggs, second over 1-row-per-customer frame"),
    ("q_promo_revenue_share", "Q14: part dim broadcast, conditional agg, exact integer operands"),
    ("q_large_quantity_orders", "Q18: agg-filter result broadcast back, big tables never shuffle"),
    ("q_segment_opportunity", "Q22: 1-row stats broadcast crossJoin + anti join, exact-cents threshold"),
    ("q_disjunctive_revenue", "Q19: per-side OR residuals pushed into both parquet scans"),
    ("dedup_winnow_pairs", "winnow dedup: selected-fingerprint postings, absolute max_df cap"),
    ("q_binational_volume", "Q7: nation broadcast twice in distinct roles, customer/supplier nation-reduced before the fact joins (shuffle joins at scale; AQE-broadcast at this SF)"),
    ("cep_conversion_rate", "CEP matches as a DataFrame: cohort rollup composes onto the fast-path plan"),
    ("q_top_supplier", "Q15: exact-integer max-of-aggregate via 1-row broadcast; the per-supplier aggregate is PINNED (r14) so the fact pass runs once (was twice)"),
    ("q_small_quantity_revenue", "Q17: brand-filtered self-aggregate broadcast, exact-cents threshold"),
    ("text_bigram_lift", "collocation lift: word-keyed aggs, pruned bigram joins, log-free exact scores; unigram counts PINNED + token total derived from them (r14: 4 scan-tokenize passes -> 2)"),
    ("q_waiting_suppliers", "Q21: late frame computed once, LEFT SEMI + LEFT ANTI self-joins on orderkey, no row-duplicating inner join"),
    ("q_excess_inventory_suppliers", "Q20: nested semi-join chain, one composite-key shuffle, exact-cents threshold"),
    ("doc_winnow_robust", "robust winnowing: per-document array fold, no algorithmic exchange"),
    ("q_returned_item_customers", "Q10: fact aggregated to one row per customer BEFORE the detail join, exact-integer top-20 cut"),
    ("q_nation_market_share", "Q8: region->nation chain reduces customers pre-join, nation broadcast twice, exact-ratio share"),
    ("text_lm_quality", "LM quality: one bigram explode checkpointed, count-table join, doc-keyed agg"),
    ("doc_pack_ffd", "FFD packing: one stratum-keyed exchange into applyInPandas, packing local per shard"),
    ("dedup_minhash_lsh_md5", "MinHash verify (r7 rework): candidate-id semi join applied BEFORE the shingle projection (explicit order — Catalyst won't push it) — corpus shingled once, verify shingles only candidates"),
    ("q_min_cost_suppliers", "Q2 (registered r8): broadcast LEFT-SEMI pre-filters (EUROPE suppliers x ECONOMY parts) cut lineitem BEFORE the (part,supplier) aggregate (r14, ~1/25 of rows into the exchange); window min filter, tie-preserving, dims broadcast"),
    ("q_important_parts", "Q11 (registered r8): supplier semi broadcast into fact, per-part agg PINNED (r14: fact pass once, was twice), 1-row total broadcast crossJoin"),
    ("q_local_supplier_volume", "Q5 (registered r8): broadcast ASIA-supplier frame reduces the fact first, same-nation residual rides the customer equi-join (orderkey/custkey shuffle joins at scale; AQE-broadcast at this SF)"),
    ("doc_token_budget", "token budget (registered r8): narrow staged frame checkpointed (one text scan), shard offsets tiny + broadcast, past-budget shards dropped before the one (source, shard) detail exchange, no Python"),
    ("dedup_substring_spans", "substring spans (registered r9): gram explode checkpointed, doc-capped posting semi-filter, hash self-join, (pair, diag) window run-merge — keyed exchanges bounded, join fanout capped by max_df"),
    ("dedup_scrub_spans", "span scrub (registered r9): span frame semi-isolates victim docs before any token explodes, range anti join = interval union, non-victims never rebuilt"),
    ("dedup_semantic", "SemDeDup (registered r9): centroid literals, ONE cell exchange, in-cell min-witness fold inside the aggregated array — no pair rows, no Python"),
    ("cep_nested_funnel_relaxed", "nested funnel (registered r9): right-nested relaxed combine flattened by the planner to per-user window passes — no join, no Python"),
    ("q_product_profit", "Q9 (registered r9): PROMO part + supplier-nation dims broadcast into the fact, one orderkey shuffle, exact unit-4 profit (no-round decimal divide — profit can be negative)"),
    ("q_late_lines_by_status", "Q12 (registered r9): one orderkey join, interval residual inside it, conditional sums ride the single status exchange"),
    ("q_part_supplier_counts", "Q16 (registered r9): broadcast anti join for the supplier out-list, broadcast part dim, pair-distinct + count-distinct share keys"),
    ("text_dedup_paragraphs", "paragraph dedup (registered r10): per-doc split -> array_distinct -> join fold, zero exchanges, no Python"),
    ("cep_purchase_no_immediate_error", "notNext (registered r10): union + ONE user-keyed window pass, no join, no Python"),
    ("doc_importance_weights", "DSIR (registered r10): gram-bucket explode checkpointed, ONE bounded bucket agg (<= `buckets` rows, PINNED r14 — the stats were re-aggregated per reference) broadcast back, doc-keyed agg, exact-integer score"),
    ("dedup_canonical_quality", "quality canonicalization (registered r10): pair-graph CC reused, id-keyed quality join, per-cluster argmax as a struct-MAX aggregate (map-side combinable) — no row_number window"),
    ("text_quality_buckets", "CCNet tiers (registered r10): lm_quality shape (explode checkpointed, singleton-elided count join), 1-row global agg broadcast, 3-group fold — the corpus never shuffles for the cutoffs"),
    ("text_dedup_paragraphs_fuzzy", "fuzzy paragraph dedup (registered r11): per-doc shingle-set fold with in-row i<j Jaccard matrix, zero exchanges, no Python"),
    ("doc_contamination_matrix", "contamination matrix (registered r11): bench (suite, gram) set distinct + broadcast, corpus streams through the gram join, ONE (source, bench) keyed agg"),
    ("doc_mixture_rebalance", "mixture rebalance (registered r11): recipe-filtered scan (pushdown), literal per-source budget map, token_budget_sample's sharded prefix — shard offsets tiny + broadcast"),
    ("dedup_url_canonical", "URL dedup (registered r12): canonicalization is a codegen projection on the scan, ONE map-side-combinable canonical_url-keyed agg, no UDF, no join"),
    ("text_dedup_paragraphs_global", "cross-doc unit dedup (registered r12): posexplode, combinable MIN(struct) argmin per unit, unit-keyed join back, doc-keyed reassembly — 3 keyed exchanges over the unit-occurrence table, no Python"),
    ("doc_quality_calibration", "per-source tier calibration (registered r12): quality_buckets pipeline with source riding the doc agg as a dependent key, then cell/group/bucket/total folds over the TIER table (bucket + total broadcast)"),
    ("text_dedup_xdoc_fuzzy", "cross-doc NEAR-dup unit removal (registered r12): capped shingle posting index, per-shingle fan-out <= cap^2, verify in the join projection, occurrence distinct + mark + reassembly, no Python"),
    ("sim_ann_pq", "PQ/ADC ANN (registered r12): codebook literal, encode = codegen argmin projection, broadcast query side, ADC in the join projection, one window top-k — no UDF, no lookup joins"),
    ("doc_hll_registers", "HLL register sketch (pre-staged r13): token explode, md5 bucket/rank projection, ONE groupingSets max/count agg (per-source + rollup in the same pass — a union would tokenize twice) over <= (groups+1)*64 cells; output size independent of corpus"),
    ("doc_bloom_decontam", "Bloom decontamination gate (pre-staged r13, densified r14): bench grams -> <=128-word bit_or agg densified to ONE array row broadcast ONCE; both hash positions tested IN-ROW (element_at + mask, codegen), ONE doc-keyed count agg — the old two-hash-join form re-derived the bench pipeline per broadcast"),
    ("doc_span_merge", "annotation span union (pre-staged r13): derived spans + array_sort + aggregate fold, ZERO exchanges — the gaps-and-islands window without the window"),
    ("multimodal_wav_stats", "WAV decode roundtrip (pre-staged r14): mapInPandas over the id column only — Arrow-batched per-row codec work, zero exchanges; the multimodal pattern where the codec is the cost, never the shuffle"),
    ("multimodal_ppm_stats", "netpbm decode roundtrip (pre-staged r14): the image twin — mapInPandas over the id column only, real PPM encode/parse/resample per row, zero exchanges"),
    ("multimodal_avi_stats", "AVI container roundtrip (pre-staged r15): the video member — real RIFF tree write + real container walk per row incl. word-alignment padding, mapInPandas over the id column only, zero exchanges"),
    ("dedup_incremental", "incremental ingest dedup (pre-staged r15): corpus side projected to ~16-byte digests BEFORE the join, digest-keyed membership join + ONE map-combinable MIN agg joined back — the asymmetric nightly-refresh shape, corpus text never moves"),
    ("sim_jl_project", "integer JL projection (pre-staged r14): 16 literal-plane dot-product folds in ONE codegen projection + posexplode — zero exchanges, scales with the scan"),
    ("doc_link_pagerank", "fixed-point PageRank (pre-staged r14): static outdeg agg, per round ONE src-keyed join + ONE dst-keyed agg over the edge table — the canonical edge-partitioned round, nothing quadratic; all-integer damped mix; fan-out frames PINNED (r14: the unrolled loop re-scanned documents 14x without them)"),
    ("doc_snapshot_diff", "snapshot reconciliation (pre-staged r14): digests in the scan projection, ONE full-outer id join over ~40-byte rows, codegen status + delta filter — output scales with change rate, not corpus"),
    ("text_tfidf_search", "tf-idf retrieval (pre-staged r13): vocabulary isin hits the token explode immediately, ONE checkpointed (doc,term) tf agg reused by the df count AND the scoring join (the lm_quality recipe — without it the corpus explode ran twice), tiny weight frame broadcast back, TWO-PHASE top-k (shard ranks then <=q*shards*k final) — no single-task window over a query's full posting list"),
    ("sim_kmeans", "fixed-point Lloyd k-means (pre-staged r13): per round the <=k centroids collapse to ONE broadcast row, assignment is an in-row array_min argmin (NO corpus-sized exchange anywhere); only the map-side-combinable (cluster,dim) recenter agg and the <=k-row stats agg shuffle"),
    ("doc_cms_estimates", "Count-Min estimates (pre-staged r15): token explode + in-row depth-way position fan-out -> ONE map-combinable count agg over <= groups*depth*width cells; probe side is a plan literal broadcast-joined to the tiny register table; exact side one isin-filtered agg"),
    ("q_scd2_user_status", "SCD2 history build (pre-staged r15): ONE user-keyed exchange carries both window passes (lag change flag + running-sum island id) and the island aggregate — per-user history, not user count, bounds state"),
    ("doc_domain_caps", "per-domain quota (pre-staged r15): TWO-PHASE ranking — shard-local row_number prunes to <= cap*shards per domain BEFORE the final per-domain window, so no power-law mega-host funnels through one task; totals via map-combinable count joined back on the domain key (a PLAIN join by design — the totals table is one row per domain, unbounded at web scale)"),
    ("text_gopher_rules", "Gopher format rules (pre-staged r15): pure per-row split/filter/fold column algebra, ZERO exchanges, whole-stage codegen"),
    ("text_boilerplate", "jusText unit-level boilerplate classification (pre-staged r15): unit split + per-unit stopword-density gates + per-doc counters, ONE in-row fold pipeline, ZERO exchanges"),
    ("q_events_zorder_stats", "Z-order layout audit (pre-staged r15): one-row MIN broadcast, then the 42-term Morton key as a zero-exchange codegen projection; the rollup's COUNT DISTINCT makes it a two-level keyed agg (tile,user -> tile), both map-side combinable over <= tiles*users cells — the file-skipping metadata table"),
    ("cep_funnel_within_time", "TIME-based within() funnel (pre-staged r15): identical physical shape to every kernel CEP row — ONE exchange on the match key, sort within buckets, Arrow-batched MapInPandas (fast path bypassed by construction: the 48h stamp bound needs kernel pruning); within pruning bounds per-key live state by the 48-hour event rate"),
    ("cep_sql_error_runs", "MATCH_RECOGNIZE greedy E+ maximal runs (pre-staged r15): the SQL:2016 front end translates onto the SAME kernel plan as every CEP row — ONE exchange on the partition key into Arrow-batched MapInPandas; SQL match selection is a per-key post-pass, zero extra exchanges; the measures projection is codegen element_at/size column algebra"),
    ("cep_sql_funnel", "MATCH_RECOGNIZE reluctant filler funnel S G*? P (pre-staged r15): same ONE-exchange kernel shape; SKIP TO NEXT ROW selection per key in the kernel post-pass, COUNT(G.*) gap measure from the capture array in the codegen projection"),
    ("cep_sql_prev_ascent", "MATCH_RECOGNIZE DEFINE navigation (pre-staged r16): PREV(value) ascending runs — the lag window column rides the kernel's key partitioning (Exchange -> Sort -> Window -> MapInPandas), ONE exchange total, same count as a navigation-free MATCH_RECOGNIZE"),
    ("cep_sql_alternation", "MATCH_RECOGNIZE ordered alternation (pre-staged r17): PATTERN (H | E{3}) + CLASSIFIER/MATCH_NUMBER/SUBSET measures — the alt node compiles into the same one-exchange kernel plan (Exchange -> Sort -> Window -> MapInPandas -> codegen measures projection), zero extra exchanges for the extra branch"),
]


def summarize(plan: str) -> str:
    counts = {
        "BroadcastHashJoin": len(re.findall(r"BroadcastHashJoin", plan)),
        "SortMergeJoin": len(re.findall(r"SortMergeJoin", plan)),
        # Keyed vs other exchanges reported separately so plan claims
        # stay honest: "keyed exchanges: 1" can coexist with a guarded
        # round-robin spread() exchange (sources/tables.py:88-104)
        # without the audit line hiding it (round-7 VERDICT nit).
        "Exchange (keyed)": len(re.findall(r"\bExchange hashpartitioning", plan)),
        "Exchange (other)": len(
            re.findall(r"\bExchange (?:RoundRobinPartitioning|rangepartitioning|SinglePartition)", plan)
        ),
        "FlatMapGroupsInPandas": len(re.findall(r"FlatMapGroupsInPandas", plan)),
        "MapInPandas": len(re.findall(r"(?<!Flat)MapInPandas", plan)),
        "ArrowEvalPython": len(re.findall(r"ArrowEvalPython|BatchEvalPython", plan)),
        "WholeStageCodegen spans": len(re.findall(r"WholeStageCodegen", plan)),
    }
    pushed = sorted(set(re.findall(r"PushedFilters: \[[^\]]*\]", plan)))
    lines = [f"- {k}: {v}" for k, v in counts.items() if v]
    lines += [f"- {p[:160]}" for p in pushed[:4]]
    return "\n".join(lines) or "- (no joins/exchanges/Python stages)"


def main() -> int:
    from reflinkcep_spark.queries import all_queries
    from reflinkcep_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(all_queries())
    # Pre-staged (not yet registered) queries still get plan audits:
    # one namespace sweep over the query modules instead of a
    # hand-written import per round (the AUDITED list is the single
    # source of which names matter).
    from reflinkcep_spark.queries import _MODULES

    for mod in _MODULES:
        for name, _claim in AUDITED:
            if name not in qs and hasattr(mod, name):
                qs[name] = getattr(mod, name)

    out = [
        "# PLANS — audited physical plans",
        "",
        f"Generated by `scripts/explain_audit.py` at `{sf_dir}`.",
        "Summaries count operators in the AQE-final executed plan;",
        "full `.explain(\"formatted\")` output follows each summary.",
        "",
    ]
    for name, claim in AUDITED:
        df = qs[name](spark, sf_dir)
        je = df._jdf.queryExecution()
        plan = je.executedPlan().toString()
        formatted = je.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out += [
            f"## {name}",
            "",
            f"*Claim:* {claim}",
            "",
            summarize(plan),
            "",
            "<details><summary>formatted plan</summary>",
            "",
            "```",
            formatted.strip()[:8000],
            "```",
            "",
            "</details>",
            "",
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(AUDITED)} queries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
