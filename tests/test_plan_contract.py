"""Plan-contract tests: the physical facts that decide 100 TB behavior
must not silently regress.

Local wall time can't see a plan getting worse (everything is fast at
sf0.001), but shuffle counts, join strategies, and pushdown CAN be
asserted exactly. Each budget below is the plan we audited and chose
(PLANS.md); an edit that adds a shuffle, drops a broadcast to a
sort-merge (or worse, a nested loop), or loses parquet pushdown on a
flagship query fails here first — the bench-regression analog for
plans (same idea as the reference's explain-plan assertions in its
warehouse tests, `tests/integration/test_validation_queries.py`).
"""

from __future__ import annotations

import pytest

from scylla_pg_cdc_spark.registry import load_all
from tests.conftest import SF_SMALL
from tools.audit_plans import plan_facts

SPECS = load_all()

# name -> (max_shuffles, min_bhj, max_smj, requires_pushdown)
BUDGETS = {
    # 1-shuffle aggregation with scan-level predicate pushdown
    "q_agg_pricing_summary": (1, 0, 0, True),
    # all four dims broadcast; ONE shuffle for the final agg
    "q_join_multiway": (1, 4, 0, True),
    # full-outer diff: 2 key shuffles + 1 SMJ is the floor
    "q_reconcile_composite": (2, 0, 1, True),
    # banded LSH: 3 shuffles total (audited; never per-band unions)
    "q_text_minhash_dedup": (3, 1, 1, True),
    # upsert compaction = one map-side-combined aggregation
    "q_cdc_upsert_compact": (1, 0, 0, False),
    "q_window_latest_per_key": (1, 0, 0, False),
    # eval side broadcast, never shuffled
    "q_decontaminate": (2, 2, 0, True),
    # brute-force kNN: scan + TakeOrdered, ZERO shuffles
    "q_vector_knn": (0, 0, 0, True),
    "q_vector_int8_knn": (0, 0, 0, True),
    # narrow per-row ops: no shuffle at any scale
    "q_doc_chunk": (0, 0, 0, False),
    "q_pii_scrub": (0, 0, 0, True),
    "q_embed_quantize": (0, 0, 0, False),
    "q_stratified_sample": (0, 0, 0, False),
    # TPC-H Q3: dims broadcast, one agg shuffle
    "q_tpch_q3": (1, 2, 0, True),
    # 5-round label propagation, r12 shape: the label frame joins by
    # KEYED SHUFFLE (one reused me-by-src exchange + one label exchange
    # per round), never per-round broadcasts — each broadcast was its
    # own sequential materialize-collect-redistribute job wave, and a
    # node-sized label frame outgrows any broadcast budget long before
    # 100 TB (measured 2.66 -> 1.78 s at sf0.1). The union-form plan
    # that exploded to 96 shuffles stays pinned out by the shuffle cap.
    "q_graph_components": (13, 0, 5, False),
    # bloom prefilter: 2 broadcast word joins + broadcast semi-join,
    # never a shuffled probe side
    "q_bloom_semijoin": (3, 3, 0, True),
    # digest compare: one agg per side + bucket join
    "q_merkle_diff": (2, 0, 1, True),
    # 4 broadcast cell lookups, no cross join
    "q_sketch_countmin": (5, 4, 0, False),
    # lead window + agg share the user_id partitioning: ONE shuffle
    "q_event_autocorr": (1, 0, 0, True),
    # OHLC: both row_number windows + the groupBy share ONE
    # (type, hour) exchange
    "q_ohlc_bars": (1, 0, 0, True),
    # KS drift: split-fold agg + per-type cumsum + final max; the
    # temporal midpoint rides a broadcast 1-row cross join
    "q_drift_ks": (3, 0, 0, True),
    # two-phase sweep: the per-day offset table joins back as a
    # BROADCAST (a shuffled join here would serialize on event_type).
    # needs_pushdown is False since the round-9 null-safe struct key:
    # the previously-pushed filter was exactly the isnotnull(key)
    # runtime artifact of the old NULL-dropping join — with NULL
    # groups first-class there is correctly nothing to push.
    "q_interval_overlap": (6, 1, 0, False),
    # scaled ER candidates: ONE per-nation window shuffle feeding the
    # lead() neighbourhood + ONE agg shuffle — never a self-join
    "q_fuzzy_name_match_scaled": (2, 0, 0, False),
    # post-checkpoint entity aggregation: one groupBy exchange (the
    # label rounds run eagerly behind _er_propagate's localCheckpoint)
    "q_entity_resolution_scaled": (1, 0, 0, False),
    # survivorship: both row_number windows + the groupBy share the
    # entity_id exchange; the member join broadcasts the label frame
    "q_er_golden_record_scaled": (1, 1, 0, True),
    # range query: pure scan + filter, NOTHING may shuffle
    "q_vector_range_search": (0, 0, 0, True),
    # exact-dup collapse agg + one bucket join + TakeOrdered
    "q_embed_neardup_collapsed": (2, 1, 0, False),
    # shingle first-owner agg + per-doc count + join back
    "q_ngram_novelty": (4, 1, 0, False),
    # two rank-select phases over a narrow pushed 2-col scan; the
    # tiny cut table joins back as a broadcast
    "q_length_band_filter": (10, 4, 0, True),
    # bounded-verify corpus-wide twin: the candidate phase runs eagerly
    # into a parquet stage (its 12-shuffle prefix plan stays pinned via
    # q_text_ngram_jaccard_sharded below), so the RETURNED plan is
    # stage scan + array-verify joins only
    "q_text_ngram_jaccard_scaled": (5, 2, 0, True),
    # prefix-filtered exact similarity twins: df rank + prefix
    # self-join + pair distinct + array verify — every shuffle keyed
    # and linear, NEVER the naive shared-shingle self-join shape
    "q_shingle_containment_scaled": (13, 5, 0, True),
    # banded candidates + prefix-filtered truth + ONE pair-key
    # full-outer (the SMJ) + single-row metric agg. r12: +1 counted
    # shuffle — the candidate dedup now IS the verify pin (one KEYED
    # pair exchange, hash-counted here, replacing distinct + an
    # uncounted round-robin repartition); total physical exchanges
    # are unchanged and the round-robin's sort-before-repartition
    # pass is gone (guide §2.5).
    "q_lsh_precision_recall_scaled": (18, 6, 1, True),
    # vocabulary agg + <=40-row band rollup, no sorts
    "q_shingle_df_profile": (3, 0, 0, False),
    # asymmetric prefix blocking + keep-list join-back
    "q_containment_collapse": (15, 5, 1, True),
    # candidate-scoped calibration: sig joins + array verify, never
    # a naive shingle self-join
    "q_minhash_jaccard_calibration": (13, 6, 1, True),
    # prefix confirm + two pair-keyed source joins + matrix rollup.
    # r12: +1 counted shuffle for the same dedup-as-pin merge as
    # q_lsh_precision_recall_scaled above (keyed exchange replaces
    # distinct + uncounted round-robin; total exchanges unchanged)
    "q_cross_source_dup_matrix": (14, 7, 0, True),
    # narrow 4-col projection, ONE rollup shuffle
    "q_tokenizer_compression": (1, 0, 0, False),
    # <=168-cell heatmap: agg shuffle + COUNT DISTINCT expand
    "q_weekly_heatmap": (2, 0, 0, False),
    # per-order count + broadcast status join + tiny rollup
    "q_basket_profile": (2, 1, 0, True),
    # df agg + per-doc rank window + per-shingle rollup + 1-row census
    "q_prefix_blocking_stats": (6, 1, 0, False),
    # per-key max_by agg + <=20-row band rollup
    "q_cdc_key_churn": (2, 0, 0, False),
    # shard-scoped low-t prefix verify; source filter pushed to scan
    "q_text_ngram_jaccard_sharded": (12, 5, 0, True),
    # round-9 rewires, pinned so the chosen 100 TB-safe shapes can't
    # silently regress:
    # skyline pre-reduce: the RETURNED plan is the 1-bucket merge
    # over the checkpointed frontier union (keyed local pass runs
    # eagerly behind the checkpoint) — 2 shuffles, 1 broadcast
    "q_skyline_2d": (2, 1, 0, False),
    # three two-phase rankings over the checkpointed customer frame:
    # per-ntile = banded window + count agg + ledger window + bcast
    "q_customer_rfm": (14, 7, 0, False),
    # one two-phase ranking over documents
    "q_curriculum_bins": (4, 1, 0, False),
    # epoch assignment: codebook broadcast (BNLJ carve-out), zero
    # sort-merge joins; shuffles all on K- or K x DIM-sized frames
    "q_ivf_epoch_maintenance": (17, 5, 0, True),
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_budget(spark, name):
    max_shuffles, min_bhj, max_smj, needs_pushdown = BUDGETS[name]
    facts = plan_facts(SPECS[name].fn(spark, SF_SMALL))
    assert facts["shuffles"] <= max_shuffles, facts
    assert facts["bhj"] >= min_bhj, facts
    assert facts["smj"] <= max_smj, facts
    if needs_pushdown:
        assert facts["pushed"], facts
    assert facts["cartesian"] == 0, facts


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n in SPECS
        # Justified BroadcastNestedLoopJoin carve-outs, each with a
        # broadcast side of bounded size: q_join_theta (inequality
        # join on a 25-row dim), q_scalar_subquery / q_tpch_q22 /
        # q_tpch_q11 (uncorrelated scalar subquery = single-row
        # broadcast), q_embed_pq_codes / q_vector_pq_knn (trained
        # codebook attached as a broadcast ONE-ROW nested-array column
        # — O(n) scan, not a quadratic join; see _pq_codebook_df).
        # The corpus/sketch/graph family (q_bigram_colloc,
        # q_domain_chisq, q_doc_domain_lift, q_weighted_sample,
        # q_graph_pagerank, q_vector_ivfpq_knn) attaches corpus totals
        # / codebooks the same way: crossJoin(broadcast(single-row
        # aggregate)) — bounded broadcast side by construction.
        if n not in (
            "q_join_theta", "q_scalar_subquery", "q_tpch_q22",
            "q_tpch_q11", "q_embed_pq_codes", "q_vector_pq_knn",
            "q_vector_ivf_trained", "q_bpe_train",
            "q_bigram_colloc", "q_domain_chisq", "q_doc_domain_lift",
            "q_weighted_sample", "q_graph_pagerank",
            "q_vector_ivfpq_knn", "q_zorder_layout",
            # q_graph_triangles attaches its four single-row summary
            # aggregates (tri/wedges/nodes/edges) the same way;
            # q_kmv_setops its three single-row sketch states;
            # q_drift_ks its 1-row temporal midpoint; q_text_bm25 its
            # 1-row corpus totals (T tokens, N docs); q_hybrid_rrf
            # reuses bm25_scores and inherits that same 1-row broadcast
            "q_graph_triangles", "q_kmv_setops",
            "q_drift_ks", "q_text_bm25", "q_hybrid_rrf",
            # q_vector_mmr: pairwise sims + greedy argmax steps over
            # the 8-row relevance pool — every nested-loop side is
            # bounded by MMR_POOL, only the pool scan touches the corpus
            "q_vector_mmr",
            # q_funnel_windowed: three SINGLE-ROW stage aggregates
            # stitched with crossJoin(broadcast(...))
            "q_funnel_windowed",
            # q_boilerplate_shingles: the 1-row corpus doc count
            # attached to a 20-row top-k frame
            "q_boilerplate_shingles",
            # q_dfcap_prefilter_effect: the 1-row drop-cost aggregate
            # attached to the 1-row pair census the same way
            "q_dfcap_prefilter_effect",
            # q_domain_tvd / q_doc_surprisal: the 1-row corpus token
            # total riding the same crossJoin(broadcast(...)) as
            # q_domain_chisq / q_doc_domain_lift
            "q_domain_tvd", "q_doc_surprisal",
            # q_ivf_epoch_maintenance: the K-row centroid codebook
            # attached to the incoming epoch by crossJoin(broadcast)
            # — bounded by the coarse-list count, same class as
            # q_vector_ivf_trained's codebook
            "q_ivf_epoch_maintenance",
        )
    ),
)
def test_no_cartesian_anywhere(spark, name):
    """No registered query may contain a CartesianProduct, and none
    outside the documented carve-outs may contain a nested-loop join."""
    facts = plan_facts(SPECS[name].fn(spark, SF_SMALL))
    assert facts["cartesian"] == 0, (name, facts)
    assert facts["bnlj"] == 0, (name, facts)


# Empty-partitionBy Window carve-outs (VERDICT r8 #7): each runs its
# global window over a frame whose size is BOUNDED or REDUCED, never
# the raw corpus, and each names its 100 TB escape hatch in its
# docstring. Everything else in the registry must plan ZERO
# single-partition windows (q_skyline_2d's former shape — fixed r9).
GLOBAL_WINDOW_CARVEOUTS = {
    # <=9-row first-digit frame (Benford digit census)
    "q_benford_audit",
    # 20-row top-k shingle frame (same bound as its BNLJ carve-out)
    "q_boilerplate_shingles",
    # cumsum over the DAY relation — calendar-sized, not corpus-sized
    "q_cumulative_uniques",
    # (q_customer_rfm and q_curriculum_bins left this list in round 9:
    # their corpus-sized NTILEs now run as two_phase_ntile — the only
    # two carve-outs whose windowed frame GREW with the data.)
    # rank fusion over the two top-k retrieval candidate lists
    "q_hybrid_rrf",
    # recall curve over the k-grid x probe frame (panel-sized)
    "q_ivf_recall_curve",
    # KMV sketch rows — bounded by the sketch size k
    "q_kmv_setops",
    # 6-bucket funnel histogram suffix sums
    "q_llm_pipeline_funnel",
    # 20-row per-source budget frame (named by VERDICT r8 #7)
    "q_token_budget_mix",
}


@pytest.mark.parametrize(
    "name", sorted(n for n in SPECS if n not in GLOBAL_WINDOW_CARVEOUTS)
)
def test_no_global_window_anywhere(spark, name):
    """No registered query outside the documented carve-outs may plan
    a Window with an empty partition spec (WindowExec's move-all-data
    -to-one-partition shape — invisible at sf0.001, fatal at 100 TB)."""
    facts = plan_facts(SPECS[name].fn(spark, SF_SMALL))
    assert facts["global_windows"] == 0, (name, facts)
