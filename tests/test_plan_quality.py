"""Physical-plan quality gates: the properties that decide whether a
query survives a 100 TB scale-up, asserted on the actual plans.

"Results match" is necessary but not sufficient — a query that scans
every column, skips pushdown, or shuffles a dimension join is correct
and still wrong at scale. Each test pins one plan property:

- predicates reach the parquet scan (``PushedFilters``),
- projections prune the scan (``ReadSchema``),
- dimension joins broadcast (no shuffle of the fact side),
- aggregations combine map-side (partial before the exchange),
- scalar pipelines stay inside whole-stage codegen,
- minhash signatures cost at most the one intended shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from skoltexter_by_ai_spark.operators.dedup import minhash_signatures
from skoltexter_by_ai_spark.plans.registry import all_queries
from skoltexter_by_ai_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _build(spark, name):
    return all_queries()[name].builder(spark, SF)


def test_filter_pushes_down_to_parquet_scan(spark):
    plan = _plan(_build(spark, "q02_filter_predicates"))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, f"no PushedFilters in scan:\n{plan}"
    pushed = m.group(1)
    assert "l_quantity" in pushed, f"l_quantity predicate not pushed: {pushed}"
    assert "IsNotNull" in pushed


def test_projection_prunes_scan_columns(spark):
    plan = _plan(_build(spark, "q01_scan_project"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, f"no ReadSchema in scan:\n{plan}"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"o_orderkey", "o_custkey", "o_totalprice"}, read_cols


def test_dimension_join_broadcasts(spark):
    # nation ⋈ region: the 5-row dimension must broadcast, never
    # shuffle-partition the other side.
    plan = _plan(_build(spark, "q11_inner_join_broadcast"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_joins_do_not_read_payload_columns(spark):
    # The EXISTS/NOT EXISTS probe side must be pruned to its join key
    # (q13 probes events.user_id, q19 probes orders.o_custkey).
    for name, key in (("q13_anti_join", "user_id"), ("q19_semi_join", "o_custkey")):
        plan = _plan(_build(spark, name))
        m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        probe_side = [s for s in m if key in s]
        assert probe_side and all(
            s == f"{key}:bigint" for s in probe_side
        ), f"{name} reads more than the key from the probe table: {probe_side}"


def test_aggregation_is_partial_before_exchange(spark):
    # groupBy must combine map-side: two HashAggregates around the
    # exchange, with the partial one below it.
    plan = _plan(_build(spark, "q15_conditional_counts"))
    agg_ops = re.findall(r"(\w*HashAggregate)", plan)
    assert len(agg_ops) >= 2, f"no partial aggregation:\n{plan}"
    assert "Exchange" in plan


def test_scalar_pipeline_is_single_codegen_stage(spark):
    # Scan -> project (upper/lower/trim) must fuse into one
    # whole-stage-codegen span; the only break is the ordering exchange.
    # AQE defers codegen stage assignment until runtime; turn it off so
    # the static plan carries the '*(n)' fusion markers.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(_build(spark, "q04_string_casing"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert re.search(r"\*\(\d+\)", plan), f"no whole-stage codegen:\n{plan}"
    assert plan.count("Exchange") <= 1, f"scalar query shuffles more than the sort:\n{plan}"


def test_minhash_signatures_single_shuffle(spark):
    # The signature aggregation must reuse the spread partitioning:
    # exactly one Exchange (the doc-id repartition), none after the
    # explode — the exploded shingle rows are ~50x the input and must
    # never shuffle.
    docs = load_table(spark, SF, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    plan = _plan(sig)
    assert plan.count("Exchange") == 1, f"minhash shuffles exploded rows:\n{plan}"


def test_topk_uses_take_ordered_not_global_sort(spark):
    # ORDER BY ... LIMIT k must plan as TakeOrderedAndProject (per-
    # partition heap + driver merge), not a full global sort.
    plan = _plan(_build(spark, "q16_topk"))
    assert "TakeOrderedAndProject" in plan, plan


def test_point_lookup_pushes_key_filter(spark):
    plan = _plan(_build(spark, "q10_point_lookup"))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(c_custkey,42)" in m.group(1), plan


def test_fuzzy_pairs_distinct_distance_no_full_broadcast(spark):
    # x38 (r9 form): levenshtein must run on the DISTINCT (brand,
    # name) pair frame, never per key pair — the plan carries a
    # distinct aggregate over (p_brand, p_name) upstream of the
    # distance, and the distance appears in a projection keyed by
    # names (before the key fan-out joins). With auto-broadcast
    # disabled no BroadcastExchange may survive (nothing hard-codes a
    # full-table broadcast).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(_build(spark, "x38_fuzzy_name_pairs"))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "BroadcastExchange" not in plan, plan
    assert "levenshtein" in plan, plan
    # the distinct pass: a HashAggregate whose grouping keys are
    # exactly the brand+name columns
    assert re.search(r"HashAggregate.*keys=\[p_brand[^\]]*p_name", plan), plan


def test_token_vocabulary_picks_ranking_path_by_request(spark):
    """Path selection is part of the contract (r7): an explicit
    num_ranges must run the distributed range-partitioned prefix sum;
    the unhinted call on a small vocabulary must take the single-task
    fast path (no range repartition in the plan). Both paths are
    output-equal (partitioning-invariance test) — this pins WHICH one
    runs, the property a pure output check cannot see."""
    from skoltexter_by_ai_spark.operators.text_analysis import token_vocabulary

    df = spark.createDataFrame(
        [(i, f"tok{i % 5} common") for i in range(50)], "doc_id long, text string"
    )
    # The range repartition itself hides behind the localCheckpoint
    # (Scan ExistingRDD), so pin the visible signatures: the
    # distributed path windows per __pid with the broadcast offsets
    # join; the fast path is one global window (SinglePartition).
    dist_plan = _plan(token_vocabulary(df, "doc_id", "text", num_ranges=4))
    assert "__pid" in dist_plan and "SinglePartition" not in dist_plan, dist_plan
    fast_plan = _plan(token_vocabulary(df, "doc_id", "text"))
    assert "SinglePartition" in fast_plan and "__pid" not in fast_plan, fast_plan


def test_intra_doc_repetition_is_shuffle_free(spark):
    # x115's operator claims a zero-shuffle narrow pass: positional
    # shingles, array_distinct, and sizes are all in-row, so the plan
    # must contain NO Exchange of any kind.
    from skoltexter_by_ai_spark.operators.text_analysis import intra_doc_repetition

    docs = load_table(spark, SF, "documents")
    plan = _plan(intra_doc_repetition(docs, "doc_id", "text"))
    # The only allowed exchange is _spread's REPARTITION_BY_NUM (CPU
    # parallelization of a tiny single-split fixture file — a no-op
    # on a real multi-split corpus); the computation itself must add
    # no shuffle.
    exchanges = [
        line for line in plan.splitlines() if "Exchange" in line
    ]
    assert all("REPARTITION_BY_NUM" in e for e in exchanges), plan


def test_simhash_fingerprint_is_shuffle_free(spark):
    from skoltexter_by_ai_spark.operators.dedup import simhash64

    docs = load_table(spark, SF, "documents")
    plan = _plan(simhash64(docs, "doc_id", "text"))
    # _spread may fire on the single-split test file; beyond that the
    # fingerprint itself must add no exchange (scan -> project only).
    assert plan.count("Exchange") <= 1, plan
    assert "HashAggregate" not in plan, plan


def test_sequence_packing_single_shuffle_per_shard_window(spark):
    from skoltexter_by_ai_spark.operators.packing import pack_sequences

    docs = load_table(spark, SF, "documents")
    plan = _plan(pack_sequences(docs, "doc_id", "text", 512, shard_col="source"))
    # One hash-partitioning exchange for the per-shard window; a
    # global-sort plan (RangePartitioning) would serialize at scale.
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_gap_fill_grid_is_distributed(spark):
    # The time grid must come from sequence/explode (Generate in the
    # plan), never a driver-side calendar union.
    plan = _plan(_build(spark, "x44_gap_fill_forward"))
    assert "Generate" in plan and "explode" in plan, plan


def test_star_join_broadcasts_all_dimensions(spark):
    # x51: region/nation/supplier must ride broadcast joins; only the
    # lineitem ⋈ orders fact join may shuffle.
    plan = _plan(_build(spark, "x51_local_supplier_volume"))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_correlated_scalar_subquery_broadcasts_aggregate(spark):
    plan = _plan(_build(spark, "x52_correlated_scalar_subquery"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_exists_inequality_plans_as_semi_join_with_pruned_probe(spark):
    # x53 (TPC-H Q4 shape): the EXISTS must be a LeftSemi join, and
    # the lineitem probe side must be pruned to exactly the join key
    # + correlation column — at 100 TB reading any payload column on
    # the biggest fact for an existence check is the bug.
    plan = _plan(_build(spark, "x53_exists_inequality_join"))
    assert "LeftSemi" in plan, plan
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li_side = [s for s in m if "l_orderkey" in s]
    assert li_side and all(
        set(c.split(":")[0] for c in s.split(",")) == {"l_orderkey", "l_shipdate"}
        for s in li_side
    ), m


def test_promo_share_broadcasts_part_and_combines_map_side(spark):
    # x56 (Q14 shape): part is a dimension (broadcast, no shuffle of
    # lineitem for the join); the monthly rollup must partial-agg.
    plan = _plan(_build(spark, "x56_promo_revenue_share"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"(\w*HashAggregate)", plan)) >= 2, plan


def test_large_volume_orders_scans_lineitem_once(spark):
    # x57 (Q18 shape): the IN-subquery threshold and the output
    # measure must come out of ONE lineitem aggregation — the naive
    # semi-join rewrite scans and aggregates the biggest fact twice.
    # The joins must run above that aggregate (few rows), with the
    # partial combine below the exchange.
    plan = _plan(_build(spark, "x57_large_volume_orders"))
    assert plan.count("lineitem.parquet") == 1, plan
    join_pos = plan.find("Join")
    agg_positions = [m.start() for m in re.finditer(r"HashAggregate", plan)]
    assert join_pos >= 0 and any(p > join_pos for p in agg_positions), (
        f"no aggregate below the joins (plans print top-down):\n{plan}"
    )
    assert "partial_sum" in plan, plan


def test_disjunctive_predicate_still_pushes_to_part_scan(spark):
    # x59 (Q19 shape): the OR-of-ANDs must not block pushdown — the
    # part-side conjuncts (brand/size) have to reach the part scan as
    # an Or filter, and the dimension join must broadcast.
    plan = _plan(_build(spark, "x59_disjunctive_predicate_join"))
    assert "BroadcastHashJoin" in plan, plan
    # The plan printer truncates long PushedFilters strings, so match
    # the filter text itself rather than a bracketed capture.
    assert "Or(And(EqualTo(p_brand,Brand#11)" in plan, plan
    # Catalyst must also derive the quantity-only disjunction for the
    # lineitem side (it can't evaluate p_brand there).
    assert re.search(r"Or\(GreaterThanOrEqual\(l_quantity,10.0\),LessThan\(l_quantity,25.0\)\)", plan), plan


def test_top_supplier_scalar_max_broadcasts(spark):
    # x58 (Q15 shape): the 1-row MAX side must broadcast; a global
    # window over all suppliers would funnel one partition.
    plan = _plan(_build(spark, "x58_top_supplier"))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_contamination_broadcasts_eval_and_combines_map_side(spark):
    # x62: the (small) benchmark side must broadcast — shuffling the
    # exploded 100 TB train shingles to meet it would be the bug — and
    # the per-pair count must partial-aggregate before its exchange.
    plan = _plan(_build(spark, "x62_ngram_contamination"))
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"(\w*HashAggregate)", plan)) >= 2, plan


def test_stratified_sample_is_pure_narrow_filter(spark):
    # x61: sampling must add NO exchange — membership is computed
    # row-local from the md5 draw (the orderBy sort is the only
    # allowed exchange in the declared query).
    plan = _plan(_build(spark, "x61_stratified_sample"))
    assert plan.count("Exchange") <= 1, plan
    assert "rangepartitioning" in plan.lower() or plan.count("Exchange") == 0, plan


def test_winsorize_broadcasts_quantile_bounds(spark):
    # x70: the per-group clip bounds come from ONE aggregation joined
    # back by broadcast — a per-row correlated subquery or a shuffle
    # of the fact side for the tiny bounds table would be the bug.
    plan = _plan(_build(spark, "x70_winsorize"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_funnel_stages_broadcast_prior_stage(spark):
    # x68: each funnel stage filters events against the PRIOR stage's
    # per-user min — those tiny aggregates must broadcast onto the
    # events scan, never shuffle it.
    plan = _plan(_build(spark, "x68_funnel_analysis"))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_ivf_ann_broadcasts_query_and_takeordered(spark):
    # x73: the 1-row query side must broadcast and the final top-k must
    # be a TakeOrderedAndProject (per-partition heaps) — a global sort
    # of the probed cells would defeat the pruning.
    plan = _plan(_build(spark, "x73_ivf_ann_topk"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cdc_merge_single_key_shuffle(spark):
    # x74: the keep-last fold is ONE hash shuffle on the merge key plus
    # the declared ORDER BY — any extra exchange means the window and
    # the tombstone filter stopped sharing a partitioning.
    plan = _plan(_build(spark, "x74_cdc_snapshot"))
    assert plan.count("Exchange") <= 2, plan


def test_quantization_is_narrow_no_shuffle(spark):
    # x76: quantization must be a pure projection over the scan — the
    # only allowed exchange is the declared ORDER BY.
    plan = _plan(_build(spark, "x76_int8_quantization"))
    assert plan.count("Exchange") <= 1, plan
    assert "HashAggregate" not in plan, plan


def test_expectation_report_is_single_scan_aggregation(spark):
    # x81: N rules must compile into ONE aggregation over ONE scan —
    # a per-rule pass would make rule count multiply the scan cost.
    plan = _plan(_build(spark, "x81_expectation_report"))
    assert plan.count("lineitem.parquet") == 1, plan
    assert len(re.findall(r"\w*HashAggregate", plan)) >= 2, plan


def test_binational_volume_broadcasts_both_dimension_chains(spark):
    # x84 (Q7 shape): supplier->nation and customer->nation chains must
    # ride broadcasts; only lineitem ⋈ orders may shuffle.
    plan = _plan(_build(spark, "x84_binational_volume"))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_market_share_single_fact_shuffle(spark):
    # x85 (Q8 shape): the six-table star must shuffle only the
    # fact⋈fact join; the share ratio aggregates once (partial+final).
    plan = _plan(_build(spark, "x85_market_share"))
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    assert len(re.findall(r"\w*HashAggregate", plan)) >= 2, plan


def test_bm25_takeordered_and_no_shuffle_join(spark):
    # x98: the final top-k must be TakeOrderedAndProject (per-partition
    # heaps), and the df/stats sides must broadcast — shuffling the
    # (doc, term) stream to meet a query-term-bounded table would be
    # the bug.
    plan = _plan(_build(spark, "x98_bm25_topk"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_unigram_logprob_never_forces_vocabulary_broadcast(spark):
    # x99: the corpus unigram table is vocabulary-sized and must not
    # carry a broadcast hint (the x97 lesson) — with auto-broadcast
    # off, only the 1-row total survives as a BroadcastExchange and
    # the token join degrades to a shuffle join.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(_build(spark, "x99_unigram_logprob"))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("BroadcastExchange") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_token_vocabulary_window_shape_matches_size_gate(spark):
    # x95 contract since r7 (VERDICT r6 item 1c): the vocabulary is
    # MEASURED, and a small one ranks in one gated single-partition
    # window (two checkpoints + an offsets job were pure overhead at
    # this size) — the fixture takes that path, so its plan holds
    # exactly one global window over the vocabulary-sized table, fed
    # by the checkpointed aggregate (never the raw corpus). The
    # two-phase per-__pid prefix-sum shape (VERDICT r4 item 3) remains
    # the big-vocabulary path; its plan shape and output equality are
    # pinned by test_token_vocabulary_picks_ranking_path_by_request
    # and the partitioning-invariance test.
    plan = _plan(_build(spark, "x95_token_vocab"))
    assert "SinglePartition" in plan, plan
    # The single-task window must read the aggregated (checkpointed)
    # vocabulary, not re-derive it: no exchange below the window other
    # than the SinglePartition one, and the scan is the pinned RDD.
    assert "Scan ExistingRDD" in plan, plan
    assert "__pid" not in plan, plan


def test_shingle_diagnostics_share_one_tokenize_pin(spark):
    # r12: boilerplate_share / ngram_novelty / duplicate_spans each
    # read their tokenize(+shingle) frame from TWO consumers (the
    # exploded aggregation and the per-doc totals). The shared frame
    # must be pinned (one materialization, visible as Scan ExistingRDD)
    # so the split/shingle tower never appears per consumer in the
    # executed plan — unpinned, each consumer re-ran it over the whole
    # corpus (interleaved A/B: -33..-42% wall on x101/x110/x120).
    from skoltexter_by_ai_spark.operators.text_analysis import (
        boilerplate_share,
        duplicate_spans,
        ngram_novelty,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i % 3} epsilon zeta") for i in range(30)],
        "doc_id long, text string",
    )
    for out in (
        boilerplate_share(df, "doc_id", "text", n=3, min_df=2),
        boilerplate_share(df, "doc_id", "text", n=3, min_df=4),
        ngram_novelty(df, "doc_id", "text", n=3),
        duplicate_spans(df, "doc_id", "text", n=5, min_docs=2),
    ):
        plan = _plan(out)
        assert "Scan ExistingRDD" in plan, plan
        # The tokenize (split) runs behind the pin, never per consumer.
        assert "split(" not in plan, plan


def test_bigram_pmi_never_forces_vocabulary_broadcast(spark):
    # x97: the unigram count tables are vocabulary-sized (10^8 tokens
    # on an open-web corpus) and must NOT carry a broadcast hint — with
    # auto-broadcast off, the only surviving BroadcastExchange is the
    # 1-row totals scalar; the token-key joins must degrade to shuffle
    # joins (VERDICT r4 item 1: a forced vocabulary broadcast is a
    # driver OOM at 100 TB).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(_build(spark, "x97_bigram_pmi"))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("BroadcastExchange") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_chunking_is_narrow_single_exchange(spark):
    # x88: tokenize -> sequence -> explode -> slice must stay narrow —
    # the only allowed exchange is the declared ORDER BY. An extra
    # shuffle of exploded chunk rows (~len/stride x input) would
    # dominate at corpus scale.
    plan = _plan(_build(spark, "x88_document_chunking"))
    assert plan.count("Exchange") <= 1, plan
    assert "Generate" in plan and "explode" in plan, plan
    assert "HashAggregate" not in plan, plan


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
# broadcast cross joins of a 1-row / query-vector / scalar-aggregate
# side onto the scan. Anything NOT listed here that plans a nested
# loop (or any CartesianProduct at all) is a regression: an
# accidental unkeyed join that scales as |left| x |right|.
_INTENTIONAL_NESTED_LOOP = {
    "q24_events_batch_agg",   # broadcast MIN(event_time) scalar
    "x05_cosine_topk",        # broadcast query vector
    "x06_lsh_ann_topk",       # broadcast query vector + bucket
    "x13_knn_join",           # broadcast query batch
    "x73_ivf_ann_topk",       # broadcast query + probe cells
    "x17_tfidf_top_terms",    # broadcast corpus-size scalar
    "x30_cross_join_small",   # declared cross join of two tiny dims
    "x34_scalar_subquery",    # broadcast scalar aggregate
    "x78_equiwidth_histogram",  # broadcast min/max bounds row
    "x87_idle_rich_customers",  # broadcast 1-row average
    "x90_curation_pipeline",    # broadcast n-docs scalar via quality chain
    "x92_peak_concurrency",     # broadcast 1-row peak aggregate
    "x94_label_centroids",      # broadcast labels^2 centroid pairs (label != label)
    "x97_bigram_pmi",           # broadcast 1-row totals scalar
    "x98_bm25_topk",            # broadcast 1-row N/avgdl corpus stats
    "x99_unigram_logprob",      # broadcast 1-row token-total scalar
    "x100_temperature_mix",     # broadcast 1-row n_min scalar onto source counts
    "x103_source_divergence",   # broadcast 1-row corpus-total scalar
    "x109_hybrid_rrf",          # composes x98's stats scalar + x05's query vector
    "x113_daily_volume_anomaly",  # broadcast 1-row mean/stddev onto day counts
    "x114_bigram_logprob",        # broadcast 1-row vocabulary-size scalar
}


def test_no_accidental_cartesian_or_nested_loop_joins(spark):
    """Sweep EVERY declared query's physical plan: unkeyed joins must
    be the intentional broadcast-tiny-side ones, never an accident."""
    unexpected = {}
    for name, spec in sorted(all_queries().items()):
        plan = _plan(spec.builder(spark, SF))
        if "CartesianProduct" in plan:
            unexpected[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _INTENTIONAL_NESTED_LOOP:
            unexpected[name] = "BroadcastNestedLoopJoin"
    assert not unexpected, unexpected


def test_forecast_revenue_scan_only_full_pushdown(spark):
    # x104 (Q6 shape): every predicate must reach the parquet scan,
    # only the 4 referenced columns may be read, and there is no join —
    # the whole query is scan + partial/final aggregate.
    plan = _plan(_build(spark, "x104_forecast_revenue"))
    # The plan printer truncates long PushedFilters lists, so don't
    # require the closing bracket.
    m = re.search(r"PushedFilters: \[([^\n]*)", plan)
    assert m, f"no PushedFilters in scan:\n{plan}"
    assert "l_discount" in m.group(1) and "l_quantity" in m.group(1), m.group(1)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }, read_cols
    assert "Join" not in plan, plan
    assert len(re.findall(r"\w*HashAggregate", plan)) >= 2, plan


def test_waiting_suppliers_semi_anti_and_broadcast_names(spark):
    # x105 (Q21 shape): the EXISTS must plan as a semi join and the
    # NOT EXISTS as an anti join (never row-exploding inner joins),
    # the lineitem scans must read only the 3 needed columns, and the
    # supplier name table must ride a broadcast onto the aggregate.
    plan = _plan(_build(spark, "x105_waiting_suppliers"))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        if "l_orderkey" in cols:
            assert cols <= {"l_orderkey", "l_suppkey", "l_shipdate"}, cols


def test_curation_funnel_single_scan_single_agg(spark):
    # x106: all gates + token yields must compile into ONE conditional
    # aggregation over ONE documents scan — no joins, no windows, no
    # per-gate re-scan.
    plan = _plan(_build(spark, "x106_curation_funnel"))
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert len(re.findall(r"\w*HashAggregate", plan)) >= 2, plan


def test_decontaminate_broadcasts_eval_and_plans_anti_join(spark):
    # x118: the benchmark shingle side must broadcast (shuffling the
    # exploded train shingles to meet 250 eval docs would be the bug),
    # the per-pair count must partial-aggregate, and the survivors
    # must come from a LEFT ANTI join — never a NOT IN re-scan.
    plan = _plan(_build(spark, "x118_decontaminate"))
    assert re.search(r"BroadcastHashJoin \[__sh", plan), plan
    assert "LeftAnti" in plan, plan
    assert len(re.findall(r"(\w*HashAggregate)", plan)) >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_perplexity_buckets_has_no_window_operator(spark):
    # x119's whole point: exact corpus-wide NTILE with NO Window node
    # (a global window = one task holding the corpus). Ranks must come
    # from exactly one range repartition + the two narrow prefix
    # passes over it.
    plan = _plan(_build(spark, "x119_perplexity_buckets"))
    assert "Window" not in plan, plan
    assert plan.lower().count("rangepartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_ngram_novelty_single_shingle_shuffle_chain(spark):
    # x120: one shingle-key aggregation (min-id) feeding one tiny
    # (id, count) re-agg — both map-side partial — and no join may
    # move the exploded shingle stream a second time.
    plan = _plan(_build(spark, "x120_ngram_novelty"))
    assert len(re.findall(r"(\w*HashAggregate)", plan)) >= 4, plan
    assert "CartesianProduct" not in plan, plan
    # the only join keys allowed are the doc id (totals <- novel counts)
    assert not re.search(r"Join \[__sh", plan), plan


def test_span_removal_joins_only_on_shingle_and_doc_keys(spark):
    # x121: the dup-set probe is a semi join on the shingle key, the
    # rebuild joins the per-doc removal arrays back on the doc id —
    # full text must never be a join key or shuffle a second time.
    plan = _plan(_build(spark, "x121_span_removal"))
    assert re.search(r"Join \[__sh[^\]]*\], \[__sh[^\]]*\], LeftSemi", plan), plan
    assert re.search(r"Join \[doc_id[^\]]*\], \[doc_id[^\]]*\], LeftOuter", plan), plan
    assert "CartesianProduct" not in plan, plan
