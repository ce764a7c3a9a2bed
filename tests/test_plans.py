"""Physical-plan regression tests (SURVEY §4): the scale-critical plan
properties — predicate pushdown, column pruning, broadcast of dims, map-only
stages staying shuffle-free — are asserted, so a change that silently adds
an exchange or widens a scan fails here, not on a cluster."""

from __future__ import annotations

import pytest

from hhs_and_cms_data_pipeline_spark.registry import all_specs
from hhs_and_cms_data_pipeline_spark.sources import table
from tests.conftest import SF_SMOKE
from tests.plan_audit import (
    count_data_shuffles,
    count_broadcast_joins,
    count_exchanges,
    formatted_plan,
    has_sort_merge_join,
    pushed_filters,
    scan_columns,
)


@pytest.fixture(scope="module")
def specs():
    return all_specs()


def test_flagship_pushdown_pruning_broadcast(spark, specs):
    plan = formatted_plan(specs["flagship_utilization"].builder(spark, SF_SMOKE))
    # the shipdate cutoff must reach the lineitem Parquet scan
    assert any("l_shipdate" in f and "LessThanOrEqual" in f for f in pushed_filters(plan))
    # the lineitem scan must read only the 4 needed columns
    assert scan_columns(plan, containing="l_extendedprice") == {
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate",
    }
    # all three joins on the dim side are broadcast at this SF
    assert count_broadcast_joins(plan) >= 3


def test_projection_reaches_scan(spark, specs):
    plan = formatted_plan(specs["p1_column_projection"].builder(spark, SF_SMOKE))
    cols = scan_columns(plan, containing="l_orderkey")
    assert "l_comment" not in cols and len(cols) <= 6


def test_shingling_is_map_only(spark):
    from hhs_and_cms_data_pipeline_spark.operators.text import word_bigrams

    plan = formatted_plan(word_bigrams(table(spark, SF_SMOKE, "documents")))
    assert count_exchanges(plan) == 0, "shingling must not shuffle"


def test_binary_manifest_is_single_pass(spark):
    from hhs_and_cms_data_pipeline_spark.operators.multimodal import mm_binary_meta

    plan = formatted_plan(mm_binary_meta(spark, SF_SMOKE))
    # manifest scan: one pass, the only exchange is the final orderBy sort
    assert count_exchanges(plan) <= 1


def test_exact_dedup_single_aggregation_shuffle(spark, specs):
    plan = formatted_plan(specs["dedup_exact"].builder(spark, SF_SMOKE))
    # one keyed exchange for the hash agg + one for the output sort (the
    # spread() round-robin rebalance is not a data shuffle); partial
    # (map-side) aggregation must be present
    assert count_data_shuffles(plan) <= 2
    assert plan.count("HashAggregate") >= 2, "expected partial+final agg"


def test_topk_compiles_to_take_ordered(spark, specs):
    plan = formatted_plan(specs["t6_topk_by_measure"].builder(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, "top-k must not global-sort"


def test_page_sorts_without_range_exchange(spark, specs):
    # the page's small final aggregates are sorted in one partition: a
    # global orderBy would add a range exchange, i.e. a sampling job and a
    # shuffle-map job on every render
    for name in (
        "flagship_utilization",
        "r2_recent_weeks_summary",
        "r3_utilization_by_rating",
        "r4_weekly_state_totals",
        "r5_sum_by_state",
    ):
        plan = formatted_plan(specs[name].builder(spark, SF_SMOKE))
        assert "rangepartitioning" not in plan, name


def test_recent_weeks_filter_pushes_to_scan(spark, specs):
    # r2 pre-collects the 5-week set into literals: the plan must be
    # JOIN-FREE (no broadcast semi-join recomputed per run) with the
    # l_shipdate range pushed into the parquet scan for row-group pruning.
    plan = formatted_plan(specs["r2_recent_weeks_summary"].builder(spark, SF_SMOKE))
    assert "Join" not in plan, "week membership must be literal, not a join"
    pushed = plan.split("PushedFilters")[1][:250] if "PushedFilters" in plan else ""
    assert "l_shipdate" in pushed, "shipdate range must reach the scan"


def test_bucketed_join_has_no_shuffle(spark, specs):
    import os
    import tempfile

    from hhs_and_cms_data_pipeline_spark.operators.windows_scale import (
        _bkt_tag,
        bucketed_join,
    )

    # materialize the bucketed tables first
    specs["bucketed_colocated_join"].builder(spark, SF_SMOKE).collect()
    plan = formatted_plan(bucketed_join(spark, SF_SMOKE))
    assert "SortMergeJoin" in plan, "merge hint must force SMJ over broadcast"
    assert count_exchanges(plan) == 0, "bucketed join must be shuffle-free"
    # the tables live under the temp dir, never in the checkout
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = os.path.realpath(tempfile.gettempdir())
    tag = _bkt_tag(SF_SMOKE)
    for name in (f"orders_bkt_{tag}", f"customer_bkt_{tag}"):
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        loc = next(r.data_type for r in desc if r.col_name == "Location")
        loc = os.path.realpath(loc.removeprefix("file:"))
        assert loc.startswith(tmp + os.sep) and not loc.startswith(repo + os.sep), loc


def test_partitioned_fact_prunes_directories(spark, specs):
    import os
    import tempfile

    from hhs_and_cms_data_pipeline_spark.operators.windows_scale import (
        partitioned_orders_path,
        pruned_year_scan,
    )

    specs["partition_pruned_scan"].builder(spark, SF_SMOKE)  # materialize
    # the layout is builder scratch: under the temp dir, never the checkout
    path = os.path.realpath(partitioned_orders_path(spark, SF_SMOKE))
    repo = os.path.realpath(os.path.join(os.path.dirname(__file__), ".."))
    assert path.startswith(os.path.realpath(tempfile.gettempdir()) + os.sep)
    assert not path.startswith(repo + os.sep)
    plan = formatted_plan(pruned_year_scan(spark, SF_SMOKE))
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters")[1][:200], (
        "year predicate must prune at the partition level"
    )


def test_bernoulli_sample_is_map_only(spark, specs):
    plan = formatted_plan(specs["sample_hash_bernoulli"].builder(spark, SF_SMOKE))
    # hash-predicate filter is per-row; the only exchange is the output sort
    assert count_exchanges(plan) <= 1
    # sampling never reads the document body
    assert "text" not in scan_columns(plan, containing="doc_id")


def test_stratified_sample_single_window_shuffle(spark, specs):
    plan = formatted_plan(specs["sample_stratified_frac"].builder(spark, SF_SMOKE))
    # row_number + per-stratum count share one partition spec: one hash
    # exchange for the window, one range exchange for the output sort
    assert count_data_shuffles(plan) <= 2
    assert "text" not in scan_columns(plan, containing="doc_id")


def test_shard_assignment_single_window_shuffle(spark, specs):
    plan = formatted_plan(specs["corpus_shard_assignment"].builder(spark, SF_SMOKE))
    # per-shard ranking windows on the nibble key (never a global
    # single-partition row_number) + the output sort
    assert count_data_shuffles(plan) <= 2
    assert "No Partition Defined" not in plan


def test_curation_filter_is_map_only(spark, specs):
    plan = formatted_plan(specs["curation_filter_pipeline"].builder(spark, SF_SMOKE))
    assert count_exchanges(plan) <= 1  # output sort only
    cols = scan_columns(plan, containing="doc_id")
    assert "lang" not in cols and "source" not in cols


def test_corpus_stats_prunes_body(spark, specs):
    plan = formatted_plan(specs["corpus_stats_by_lang"].builder(spark, SF_SMOKE))
    assert "text" not in scan_columns(plan, containing="lang")


def test_knn_join_uses_window_group_limit(spark, specs):
    plan = formatted_plan(specs["sim_knn_join"].builder(spark, SF_SMOKE))
    # probe batch broadcasts (corpus never shuffles for the join) and the
    # rank<=k predicate becomes a per-partition top-k heap, not a full sort
    assert count_broadcast_joins(plan) >= 1
    assert "WindowGroupLimit" in plan
    assert count_data_shuffles(plan) <= 2  # window hash + output sort


def test_no_unreduced_global_windows_anywhere(spark, specs):
    """Registry-wide scale audit (round-2 VERDICT item 6): every
    `Exchange SinglePartition` in every registered query's plan must sit
    above PRE-REDUCED data (an aggregate or limit) or a bounded dim table.
    A global window/sort over unreduced fact data funnels the corpus onto
    one core — the classic 100 TB job-killer. Any new query that adds one
    must either restructure or consciously join the allowlist here.

    Allowlist: j6_positional_pairing — positional zip is BY CONTRACT a
    global-order op applied only to dim-sized frames (customer<=200 rows,
    supplier), documented in its docstring."""
    from tests.plan_audit import (
        simple_plan,
        unreduced_single_partition,
    )

    allowlist = {"j6_positional_pairing"}
    offenders = {}
    for name, spec in sorted(specs.items()):
        bad = unreduced_single_partition(simple_plan(spec.builder(spark, SF_SMOKE)))
        if bad:
            offenders[name] = bad
    unexpected = {n: b for n, b in offenders.items() if n not in allowlist}
    assert not unexpected, (
        "unreduced SinglePartition exchange over non-dim data in: "
        f"{sorted(unexpected)} — restructure (pre-aggregate / partition the "
        "window / limit) or allowlist with a documented contract"
    )
    # the allowlist must stay honest: if j6 is ever restructured, drop it
    assert set(offenders) == allowlist


def test_repetition_filter_is_map_only(spark, specs):
    plan = formatted_plan(specs["text_repetition_filter"].builder(spark, SF_SMOKE))
    # both counts come from the in-row bigram array: sort is the only exchange
    assert count_exchanges(plan) <= 1


def test_decontaminate_broadcasts_benchmark(spark, specs):
    plan = formatted_plan(specs["decontaminate_ngram_overlap"].builder(spark, SF_SMOKE))
    # the benchmark shingle set must broadcast — the corpus side never
    # shuffles for the overlap join itself
    assert count_broadcast_joins(plan) >= 1
    # corpus scans read only what shingling needs
    assert scan_columns(plan, containing="text") <= {"doc_id", "text"}


def test_pack_sequences_windows_per_shard(spark, specs):
    plan = formatted_plan(specs["pack_sequences"].builder(spark, SF_SMOKE))
    # one hash exchange for the per-shard window + the output sort; the
    # cumulative sum must never collapse to a global single-partition window
    assert count_data_shuffles(plan) <= 2
    assert "No Partition Defined" not in plan


def test_quantize_is_map_only(spark, specs):
    plan = formatted_plan(specs["sim_quantize_int8"].builder(spark, SF_SMOKE))
    # per-vector codes/error are in-row array math: sort is the only exchange
    assert count_exchanges(plan) <= 1


def test_dpp_star_join_prunes_dynamically(spark, specs):
    plan = formatted_plan(specs["dpp_star_join"].builder(spark, SF_SMOKE))
    # the fact scan's partition filter must be the runtime value set from
    # the dim side — directory-level skipping decided during execution
    assert "dynamicpruningexpression" in plan


def test_q18_having_prefilter_and_topk(spark, specs):
    plan = formatted_plan(specs["tpch_q18_large_volume"].builder(spark, SF_SMOKE))
    # the quantity HAVING runs before the joins and top-100 is a heap, not
    # a global sort
    assert "TakeOrderedAndProject" in plan
    # only 2 columns of lineitem feed the pre-aggregate
    assert scan_columns(plan, containing="l_quantity") == {"l_orderkey", "l_quantity"}


def test_q19_broadcasts_part_and_prunes(spark, specs):
    plan = formatted_plan(specs["tpch_q19_discounted_revenue"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 1
    cols = scan_columns(plan, containing="l_partkey")
    assert "l_shipdate" not in cols and len(cols) <= 4


def test_q21_semi_anti_no_cartesian(spark, specs):
    plan = formatted_plan(specs["tpch_q21_waiting_suppliers"].builder(spark, SF_SMOKE))
    # the supplier-inequality residual must ride the orderkey equi-join,
    # never degrade to a cross product
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    # the status filter reaches the orders scan
    assert any("o_orderstatus" in f for f in pushed_filters(plan))


def test_q17_part_prune_before_avg(spark, specs):
    plan = formatted_plan(specs["tpch_q17_small_qty_revenue"].builder(spark, SF_SMOKE))
    # brand+size prune via the broadcast part dim; lineitem reads 3 columns
    assert count_broadcast_joins(plan) >= 2
    assert scan_columns(plan, containing="l_quantity") == {
        "l_partkey", "l_quantity", "l_extendedprice",
    }


def test_q10_filters_push_to_both_facts(spark, specs):
    plan = formatted_plan(specs["tpch_q10_returned_items"].builder(spark, SF_SMOKE))
    assert any("l_returnflag" in f for f in pushed_filters(plan))
    assert any("o_orderdate" in f for f in pushed_filters(plan))
    assert "TakeOrderedAndProject" in plan


def test_chunking_is_map_only(spark, specs):
    plan = formatted_plan(specs["doc_chunk_windows"].builder(spark, SF_SMOKE))
    # per-row sequence + narrow explode: the only exchange is the output sort
    assert count_data_shuffles(plan) <= 1
    assert "Generate" in plan


def test_mixture_resample_is_map_only(spark, specs):
    plan = formatted_plan(specs["mixture_resample"].builder(spark, SF_SMOKE))
    assert count_data_shuffles(plan) <= 1  # output sort only
    # the text column must not be read at all — replication needs metadata only
    cols = scan_columns(plan, containing="doc_id")
    assert "text" not in cols


def test_session_paths_single_user_exchange(spark, specs):
    plan = formatted_plan(specs["session_event_paths"].builder(spark, SF_SMOKE))
    # both windows and the groupBy partition on user_id; with the final sort
    # that is at most 2 keyed exchanges and no single-partition funnel on the
    # fact (global windows would show `Exchange SinglePartition` pre-agg)
    assert count_data_shuffles(plan) <= 3


def test_incremental_dedup_cross_set_join(spark, specs):
    plan = formatted_plan(specs["dedup_incremental"].builder(spark, SF_SMOKE))
    # candidate generation joins new-batch bands against corpus bands — an
    # equi-join on (band, sig), never a cartesian product
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # band fan-out is a narrow explode


def test_ivf_build_broadcasts_centroids(spark, specs):
    # audit the TRAINING DAG directly: since the round-6 memoization the
    # registered query consumes a localCheckpointed artifact whose plan is
    # truncated at the checkpoint, so the Lloyd rounds are only visible on
    # the uncheckpointed training frame
    from hhs_and_cms_data_pipeline_spark.operators.similarity import (
        _ivf_train_assign,
    )

    plan = formatted_plan(_ivf_train_assign(spark, SF_SMOKE))
    # both Lloyd rounds must score against BROADCAST centroid relations
    # (k x dims rows); a shuffled centroid join would add two pointless
    # exchanges of the full exploded vector relation per round
    assert count_broadcast_joins(plan) >= 2
    assert "CartesianProduct" not in plan


def test_subtree_parser_stops_at_continuation_siblings():
    """Regression: a sibling rendered under a ':' continuation (':  +- X')
    must terminate the SinglePartition subtree — the old lstrip-startswith
    check absorbed it, hiding genuine unreduced global windows."""
    from tests.plan_audit import (
        single_partition_subtrees,
        unreduced_single_partition,
    )

    plan = "\n".join(
        [
            "+- Join",
            "   :- Exchange SinglePartition",
            "   :  +- Window",
            "   :     +- Scan parquet [file:/x/lineitem.parquet]",
            "   +- HashAggregate",
            "      +- Scan parquet [file:/x/orders.parquet]",
        ]
    )
    subs = single_partition_subtrees(plan)
    assert len(subs) == 1
    assert "lineitem" in subs[0]
    assert "HashAggregate" not in subs[0], "sibling absorbed into subtree"
    # and the audit now flags the unreduced fact-scan funnel
    assert unreduced_single_partition(plan)


def test_runtime_bloom_filter_injection_available(spark):
    """Catalyst's runtime bloom-filter join pruning (the automatic analogue
    of a hand-built semi-join reducer) activates once the application-side
    scan clears its size threshold — at 100 TB the thresholds pass on their
    own; here we lower them to prove the rule fires and results are
    unchanged. Guards against a session conf (ensure_session_conf) or
    Spark upgrade silently disabling the rule this engine's big
    fact-join posture counts on."""
    import pyspark.sql.functions as F

    from hhs_and_cms_data_pipeline_spark.sources import table

    conf = spark.conf
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # AQE replans hide the injected filter from the static explain
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # broadcast joins skip bloom
    }
    saved = {k: conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            conf.set(k, v)
        li = table(spark, SF_SMOKE, "lineitem")
        orders = table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloomfilter" in plan.lower() or "BloomFilter" in plan, (
            "runtime bloom filter did not inject:\n" + plan[:2000]
        )
        n = joined.count()
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
        assert joined.count() == n  # semantics unchanged without the filter
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_quality_classifier_is_pure_map(spark, specs):
    plan = formatted_plan(specs["text_quality_classifier"].builder(spark, SF_SMOKE))
    # hashed-feature scoring is per-row Column math: the output sort is the
    # only exchange, there is no join, no aggregate, and no Python
    assert count_exchanges(plan) <= 1
    assert count_broadcast_joins(plan) == 0
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert scan_columns(plan, containing="text") <= {"doc_id", "text"}


def test_substring_spans_fingerprints_are_map_only(spark, specs):
    plan = formatted_plan(specs["dedup_substring_spans"].builder(spark, SF_SMOKE))
    # span fingerprints are built per-row (transform over the token array):
    # no explode-then-window — the first exchange in the plan is already
    # keyed on the fingerprint (DF cap aggregate / index join), never a
    # pre-shingling shuffle, and no cross join can appear
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert scan_columns(plan, containing="text") <= {"doc_id", "text"}
    # round-6 shape: ONE posting-list aggregate (hot lists dropped at the
    # agg, pairs expanded in-group with array functions), one pair-count
    # agg, one output sort — and NO self-join, so no hot row can reach a
    # second exchange by construction
    assert count_data_shuffles(plan) <= 3
    assert "Join" not in plan, "pair expansion must be in-group, not a self-join"


def test_partitioned_gemm_shuffles_only_partial_topk(spark, specs):
    plan = formatted_plan(specs["sim_partitioned_knn_gemm"].builder(spark, SF_SMOKE))
    # the corpus never shuffles: the only keyed exchanges sit ABOVE the
    # mapInPandas partial top-k (probe_id window + final sort), whose
    # output is <= partitions x probes x k rows
    assert "MapInPandas" in plan
    assert count_data_shuffles(plan) <= 2
    assert scan_columns(plan, containing="embedding") <= {"vec_id", "embedding"}


def test_end_to_end_pipeline_fuses_into_two_shuffles(spark, specs):
    plan = formatted_plan(specs["curation_end_to_end"].builder(spark, SF_SMOKE))
    # gate + classifier + shard fuse into the scan's map stage; the only
    # keyed exchanges are the content-hash dedup window and the output sort
    assert count_data_shuffles(plan) <= 2
    # the rn=1 dedup must push a partial top-1 below the shuffle, so each
    # map task forwards one candidate row per content hash, not every dup
    assert "WindowGroupLimit" in plan
    assert count_broadcast_joins(plan) == 0
    assert scan_columns(plan, containing="text") <= {
        "doc_id", "text", "lang", "n_chars",
    }


def test_dhash_shuffles_only_on_hash_bucket(spark, specs):
    plan = formatted_plan(specs["mm_dhash_dedup"].builder(spark, SF_SMOKE))
    # the 64-bit dHash is per-row column math; only the bucket-count window
    # (keyed on the 16-char hash) and the output sort may shuffle
    assert count_data_shuffles(plan) <= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_native_session_window_single_exchange(spark, specs):
    plan = formatted_plan(
        specs["stream_session_window_native"].builder(spark, SF_SMOKE)
    )
    # session merging happens inside the aggregation: one hash exchange on
    # user_id (plus the output sort), never a per-event window pass
    assert count_data_shuffles(plan) <= 2
    assert "Window" not in plan.replace("SessionWindow", "").replace(
        "session_window", ""
    )


def test_variant_stats_single_shuffle(spark, specs):
    plan = formatted_plan(specs["variant_props_stats"].builder(spark, SF_SMOKE))
    # parse_json + variant_get stay in the scan's map stage; one grouping
    # exchange (partial-agg'd) plus the output sort
    assert count_data_shuffles(plan) <= 2
    assert scan_columns(plan, containing="props") <= {"event_type", "props"}


def test_bloom_prefilter_broadcasts_bitmap(spark, specs):
    """XS6: both bitmap membership probes must be BROADCAST hash joins —
    if the ~2048-row bloom relation ever shuffle-joins, the prefilter
    costs more than the semi-join it exists to cheapen."""
    plan = formatted_plan(specs["xs6_bloom_prefilter_join"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 2


def test_rarity_score_broadcasts_vocab(spark, specs):
    """TX9: the vocabulary-sized count table and the 1-row corpus total
    must broadcast — the token stream is the only fact-sized input."""
    plan = formatted_plan(specs["text_rarity_score"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 2


def test_outlier_stats_broadcast(spark, specs):
    """DQ2: the 5-row per-type stats dim broadcasts back onto the fact
    stream so flagging stays map-side."""
    plan = formatted_plan(specs["dq_outlier_zscore"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 1


def test_scd2_windows_share_one_exchange(spark, specs):
    """W7: both stacked windows partition on user_id — exactly one hash
    exchange (plus the presentation sort's range exchange)."""
    plan = formatted_plan(specs["w7_scd2_rating_intervals"].builder(spark, SF_SMOKE))
    assert count_exchanges(plan) <= 2


def test_quality_quantile_score_is_map_only(spark, specs):
    """C14: scoring adds no shuffle of its own — the exchanges are
    spread()'s round-robin fan-out of the tiny documents table, the
    per-source window partitioning, and the presentation sort."""
    plan = formatted_plan(specs["curation_quality_quantile"].builder(spark, SF_SMOKE))
    assert count_exchanges(plan) <= 3
    assert "hashpartitioning(source" in plan


def test_pq_adc_query_serves_from_built_index(spark, specs):
    """After the SIM9 build/query split, the ONLINE ADC query must consume
    the materialized (checkpointed) codebook/codes artifacts — visible as
    ExistingRDD scans — rather than re-deriving them from the parquet
    (which would mean retraining per query), and the final top-10 must be
    TakeOrderedAndProject, not a single-partition global sort."""
    # force the build so the query plan is the online half
    from hhs_and_cms_data_pipeline_spark.operators.similarity import pq_build

    pq_build(spark, SF_SMOKE)
    plan = formatted_plan(specs["sim_pq_adc_topk"].builder(spark, SF_SMOKE))
    assert "ExistingRDD" in plan, "index not served from the built artifact"
    assert "TakeOrderedAndProject" in plan
    # the only parquet scan is the 1-row probe slice
    assert scan_columns(plan, containing="embedding") <= {"vec_id", "embedding"}


def test_ivfpq_query_is_candidate_bounded(spark, specs):
    """SIM12 (IVFADC): the online query must rank only the probe-cell
    candidate set via the code relation — broadcast lookup table, no
    cartesian/nested-loop pairing of corpus vectors, top-k as
    TakeOrderedAndProject — and never read the document/text columns."""
    from hhs_and_cms_data_pipeline_spark.operators.similarity import pq_build

    pq_build(spark, SF_SMOKE)  # index offline, like the ADC plan test
    plan = formatted_plan(specs["sim_ivfpq_topk"].builder(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert count_broadcast_joins(plan) >= 2  # probe cell + ADC lut
    assert scan_columns(plan, containing="embedding") <= {"vec_id", "embedding"}


def test_semdedup_pairs_are_cell_local(spark, specs):
    """SIM15: candidate generation must be the cluster-keyed self-join of
    the coarse assignment — the plan carries hash partitioning on `cl` and
    no Cartesian product anywhere (an unkeyed pair join would be the
    all-pairs explosion the clustering exists to avoid)."""
    plan = formatted_plan(specs["dedup_semantic_prune"].builder(spark, SF_SMOKE))
    assert "hashpartitioning(cl" in plan
    assert "CartesianProduct" not in plan


def test_matryoshka_rerank_is_shuffle_free(spark, specs):
    """SIM16: both stages are broadcast-probe scans + TakeOrderedAndProject
    and the re-rank joins the 50-row pool by broadcast — ZERO data
    shuffles. If an exchange appears, a stage started moving the corpus."""
    plan = formatted_plan(specs["sim_matryoshka_rerank"].builder(spark, SF_SMOKE))
    assert count_data_shuffles(plan) == 0


def test_bigram_lm_preaggregates_before_model_join(spark, specs):
    """TX13: the token stream must collapse to per-(doc, bigram) counts
    BEFORE joining the model tables (the pre-agg exchange keys on doc_id +
    bigram), and the vocabulary-sized context/scalar tables broadcast."""
    plan = formatted_plan(
        specs["text_bigram_lm_surprisal"].builder(spark, SF_SMOKE)
    )
    assert "hashpartitioning(doc_id" in plan and ", w1" in plan
    assert count_broadcast_joins(plan) >= 2


def test_token_budget_window_is_source_partitioned(spark, specs):
    """C15: the running-sum window partitions by source (never a global
    single-partition window) and the per-source budget table broadcasts
    back onto the stream."""
    plan = formatted_plan(
        specs["curation_token_budget_select"].builder(spark, SF_SMOKE)
    )
    assert "hashpartitioning(source" in plan
    assert count_broadcast_joins(plan) >= 1
    assert count_data_shuffles(plan) <= 3


def test_keyframe_select_is_single_pass(spark, specs):
    """MM8: Arrow mapInPandas over the payload scan — the only data
    movement is the presentation sort."""
    plan = formatted_plan(specs["mm_keyframe_select"].builder(spark, SF_SMOKE))
    assert count_data_shuffles(plan) <= 1


def test_fd_profile_aggregates_before_windows(spark, specs):
    """DQ3: the corpus collapses to (source, lang) pair counts first; the
    windows and ranking run source-partitioned over the pair table."""
    plan = formatted_plan(specs["dq_fd_profile"].builder(spark, SF_SMOKE))
    assert "hashpartitioning(source" in plan
    assert count_data_shuffles(plan) <= 3


def test_peak_rate_window_and_agg_share_one_exchange(spark, specs):
    """XA11: the RANGE window and the per-user rollup ride the SAME
    user_id hash exchange (Catalyst reuses the partitioning); the only
    other exchange is the presentation sort."""
    plan = formatted_plan(specs["xa11_peak_event_rate"].builder(spark, SF_SMOKE))
    assert "hashpartitioning(user_id" in plan
    assert count_exchanges(plan) <= 2


def test_interval_sweep_is_one_keyed_exchange(spark, specs):
    """XA12: start/end explode is map-side (union adds no shuffle); the
    sweep sort and per-user aggregate share one user_id exchange, plus
    the presentation sort — never an interval self-join."""
    plan = formatted_plan(specs["xa12_interval_overlap"].builder(spark, SF_SMOKE))
    assert "hashpartitioning(user_id" in plan
    assert count_exchanges(plan) <= 2
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoop" not in plan


def test_zipf_regression_scalar_is_broadcast(spark, specs):
    """TX15: the 1-row regression-sums frame joins the bucket relation via
    broadcast (never a shuffled join), and everything downstream of the
    vocabulary count table is vocab-sized — the corpus is aggregated once."""
    plan = formatted_plan(specs["text_zipf_slope"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan
    # post-checkpoint tail: scalar-agg collapse, bucket agg, final sort —
    # the corpus collapse to vocab counts sits behind the checkpoint
    assert count_exchanges(plan) <= 3


def test_hll_register_tail_is_broadcast_only(spark, specs):
    """SK1: downstream of the (checkpointed) 64-row register table there is
    only the scalar register-sum collapse and the broadcast cross join —
    the corpus exchange lives behind the checkpoint; nothing after it may
    shuffle more than the 64-row relation."""
    plan = formatted_plan(specs["sk_hll_distinct"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan
    assert count_exchanges(plan) <= 3


def test_cms_sketch_broadcasts_and_topk(spark, specs):
    """SK2: the 4x salted expansion is a map-side Generate (no join builds
    the sketch), the truth side is TakeOrderedAndProject, and the
    2048-cell sketch joins the 40 probe rows via broadcast."""
    plan = formatted_plan(specs["sk_cms_heavy_hitters"].builder(spark, SF_SMOKE))
    assert "Generate" in plan and "explode" in plan
    assert "TakeOrderedAndProject" in plan
    assert count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan


def test_benford_single_scan_nine_row_tail(spark, specs):
    """DQ4: the fact table collapses to the <=9-row digit histogram in one
    hash aggregate (checkpointed — consumed by both the spine join and the
    total without a second scan); the spine and total join via broadcast."""
    plan = formatted_plan(specs["dq_benford_audit"].builder(spark, SF_SMOKE))
    assert plan.count("Scan parquet") <= 1, "lineitem must be scanned once"
    assert count_broadcast_joins(plan) >= 2
    assert "SortMergeJoin" not in plan


def test_ohlc_bars_share_one_bar_key_exchange(spark, specs):
    """XT2: both row_number windows and the final aggregate ride the SAME
    (event_type, hour) hash exchange — one data shuffle plus the
    presentation sort, and no self-join back to the bars."""
    plan = formatted_plan(specs["xt2_ohlc_bars"].builder(spark, SF_SMOKE))
    assert "hashpartitioning(event_type" in plan
    assert count_exchanges(plan) <= 2
    assert "Join" not in plan


def test_kmv_distinct_is_one_keyed_exchange(spark, specs):
    """SK3: the (event_type, hash) distinct partial-aggregates map-side and
    the per-group window reuses the group partitioning — the corpus
    crosses the wire once plus the presentation sort."""
    plan = formatted_plan(specs["sk_kmv_distinct"].builder(spark, SF_SMOKE))
    assert "hashpartitioning(event_type" in plan
    assert count_data_shuffles(plan) <= 3
    assert "Join" not in plan


def test_histogram_median_derives_from_one_cdf(spark, specs):
    """SK4: everything downstream of the (checkpointed) distinct-cents CDF
    relation is aggregate-sized — broadcast joins only, no sort-merge, and
    the post-checkpoint tail holds no fact-table scan."""
    plan = formatted_plan(specs["sk_histogram_median"].builder(spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 0  # fact scan is behind the checkpoint
    assert count_broadcast_joins(plan) >= 2
    assert "SortMergeJoin" not in plan


def test_kmv_jaccard_sketches_via_topk(spark, specs):
    """SK5: each per-set sketch is distinct + TakeOrderedAndProject (never
    a global sort), and all set algebra downstream of the k-row sketches
    joins via broadcast."""
    plan = formatted_plan(specs["sk_kmv_jaccard"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 3
    assert "SortMergeJoin" not in plan


def test_triangle_wedge_joins_never_broadcast_edges(spark, specs):
    """GRAPH1: the wedge and closure joins are EDGE x EDGE and must be
    shuffle hash joins — auto-broadcasting the stats-less checkpointed
    edge relation OOMs a default-sized driver at sf0.1 and cannot exist
    at 100 TB (the degree orientation makes the hash join skew-safe)."""
    plan = formatted_plan(specs["graph_triangle_counts"].builder(spark, SF_SMOKE))
    assert plan.count("ShuffledHashJoin") >= 2


def test_priority_sample_selects_via_topk_heap(spark, specs):
    """C16: selection must be TakeOrderedAndProject (per-partition heaps),
    never a global sort of the prioritized corpus; post-checkpoint algebra
    is broadcast-only."""
    from hhs_and_cms_data_pipeline_spark.operators.curation import _PRI_K
    from hhs_and_cms_data_pipeline_spark.sources import table as _t
    from pyspark.sql import functions as F

    # the selection plan (pre-checkpoint): build the prioritized relation
    # exactly as the operator does and take k+1
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("long") + F.lit(1)
    p = (
        _t(spark, SF_SMOKE, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", F.col("n_chars").alias("w"), h.alias("h"))
        .select("doc_id", "w", F.expr("shiftleft(cast(w as bigint), 48) div h").alias("q"))
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .limit(_PRI_K + 1)
    )
    assert "TakeOrderedAndProject" in formatted_plan(p)

    plan = formatted_plan(specs["curation_priority_sample"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 2
    assert "SortMergeJoin" not in plan


def test_fk_orphan_audit_broadcasts_parent_keys(spark, specs):
    """DQ5: every anti join's parent side is a distinct single-column key
    relation — broadcast at dim scale; no sort-merge joins at test SFs."""
    plan = formatted_plan(specs["dq_fk_orphans"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 4
    assert "SortMergeJoin" not in plan


def test_lpa_argmax_is_hash_aggregate_not_window(spark, specs):
    """GRAPH4: the per-node label argmax must be MAX(struct(cnt, -lbl)) —
    a hash aggregate with map-side partials — never a row_number window,
    which would add a per-node sort per round (3 extra sorts of |V| rows
    at 100 TB)."""
    plan = formatted_plan(specs["graph_label_propagation"].builder(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_degree_distribution_is_two_hash_aggs_no_window(spark, specs):
    """GRAPH5: the histogram is two hash aggregations over the edge list —
    no window, no extra join beyond the co-occurrence edge build."""
    plan = formatted_plan(specs["graph_degree_distribution"].builder(spark, SF_SMOKE))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_drift_audit_scans_events_once_per_branch(spark, specs):
    """DQ6: the raw event stream is scanned by the per-type aggregate and
    its total re-aggregate only — the drift algebra (shares, deltas, L1
    window) must all run over the O(|event_type|) grouped frame, never
    join back to raw events. 2 scans, 1 broadcast of the totals row, and
    the single window sits above both aggregates."""
    plan = formatted_plan(specs["dq_distribution_drift"].builder(spark, SF_SMOKE))
    # formatted output names each scan twice (tree + detail) -> 2 real scans
    assert plan.count("Scan parquet") <= 4
    assert count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan


def test_ivf_incremental_add_never_rescans_base_corpus(spark, specs):
    """SIM17: arrival cost must scale with the batch, not the corpus — the
    online plan reads the batch slice of embeddings (one parquet scan with
    the modulus filter pushed to it), joins the broadcast centroid
    artifact, and touches the base only through its checkpointed k-row
    aggregate. Any SortMergeJoin or second parquet scan means the add path
    is re-shuffling the corpus."""
    from hhs_and_cms_data_pipeline_spark.sources import reset_derived

    reset_derived()
    plan = formatted_plan(
        specs["sim_ivf_incremental_add"].builder(spark, SF_SMOKE)
    )
    # formatted output names each scan twice (tree + detail) -> 1 real scan
    assert plan.count("Scan parquet") <= 2
    assert count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan


def test_bloom_filter_broadcasts_and_never_sorts(spark, specs):
    """SK6: the <= m-row position set must broadcast to the probe side;
    the probe relation's only exchange is its own per-key aggregation —
    a SortMergeJoin would mean the corpus-sized probe side is being
    shuffled against a 16k-row sketch."""
    plan = formatted_plan(specs["sk_bloom_filter"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan


def test_dsir_model_broadcasts_and_selects_via_topk(spark, specs):
    plan = formatted_plan(specs["curation_dsir_select"].builder(spark, SF_SMOKE))
    # the 256-row bucket model joins the per-doc counts as a broadcast —
    # the scored corpus never shuffles for the model lookup
    assert count_broadcast_joins(plan) >= 1
    # selection is a per-partition heap, never a global sort of all scores
    assert "TakeOrderedAndProject" in plan
    # scoring needs exactly the id/lang/text columns
    assert scan_columns(plan, containing="text") <= {"doc_id", "lang", "text"}


def test_link_prediction_wedge_join_never_broadcasts_adjacency(spark, specs):
    # audit the LAZY fast plan (the registered builder collects through it
    # and re-wraps the gated rows, so its returned DF is a local relation)
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.operators.graph import (
        _LP_HUB_CAP,
        _degrees,
        _lp_fast_plan,
        cooccurrence_edges_cached,
    )

    und = cooccurrence_edges_cached(spark, SF_SMOKE)
    deg = _degrees(und).localCheckpoint(eager=False)
    capped = deg.filter(F.col("deg") <= _LP_HUB_CAP).select(F.col("n").alias("c"))
    plan = formatted_plan(_lp_fast_plan(und, deg, capped))
    # the adjacency self-join is EDGE x EDGE: stats-less checkpoint must
    # not be auto-broadcast (same failure mode as the triangle wedge join)
    assert "ShuffledHashJoin" in plan
    # top-20 missing edges via per-partition heaps
    assert "TakeOrderedAndProject" in plan
    # the cn filter rides INSIDE the aggregation's output, before the
    # anti-join/degree joins — never a post-join filter of 100M pairs.
    # Formatted-plan node ids number bottom-up: the wedge aggregation's id
    # must be lower than the anti/degree joins above it, and a Filter on
    # cn must sit between them.
    import re

    nodes = {
        int(m.group(1)): m.group(2)
        for m in re.finditer(r"^\((\d+)\) (\w+)", plan, re.M)
    }
    agg_ids = [i for i, n in nodes.items() if n == "HashAggregate"]
    bhj_ids = [i for i, n in nodes.items() if n == "BroadcastHashJoin"]
    assert agg_ids and bhj_ids and max(agg_ids) < min(bhj_ids)
    assert re.search(r"Condition : \(cn#\d+L >= 3\)", plan)


def test_link_prediction_gate_falls_back_when_filter_could_bite(spark, specs):
    """The cn >= _LP_MIN_CN filter is only exact when 20 survivors exist
    and the 20th strictly beats _LP_MIN_CN-1; the registered builder must
    agree with the UNFILTERED plan at the test SF (gate holds: 20th-best
    is 69 at sf0.001), and the fallback plan itself must match too."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.operators.graph import (
        _LP_HUB_CAP,
        _degrees,
        _lp_full_topk,
        cooccurrence_edges_cached,
    )

    fast = [tuple(r) for r in
            specs["graph_link_prediction"].builder(spark, SF_SMOKE).collect()]
    und = cooccurrence_edges_cached(spark, SF_SMOKE)
    deg = _degrees(und).localCheckpoint(eager=False)
    capped = deg.filter(F.col("deg") <= _LP_HUB_CAP).select(F.col("n").alias("c"))
    full = [tuple(r) for r in _lp_full_topk(und, deg, capped).collect()]
    assert fast == full and len(fast) == 20


@pytest.mark.parametrize(
    "name", ["dedup_containment", "dedup_ngram_jaccard", "dedup_token_cosine"]
)
def test_shingle_candidates_rare_filtered_on_both_sides(spark, specs, name):
    plan = formatted_plan(specs[name].builder(spark, SF_SMOKE))
    # BOTH children of the candidate self-join must pass through the df-cap
    # semi join (the D2 skew valve): with only the probe side filtered the
    # output is identical, but the exchange hashes every Zipf-head posting
    # list on the build side onto a single reducer for zero matches — the
    # one would-hurt-at-100TB pattern this plan test pins down.
    assert plan.count("LeftSemi") >= 2


def test_link_prediction_hub_cap_not_binding_at_test_sf(spark):
    """GRAPH6's hub cap must be a pure scale valve at test SFs: if a test
    graph's max degree crossed it, the oracle and Spark would still agree
    (both apply the cap) but the query would silently stop being the exact
    common-neighbor count — keep the cap comfortably above reality."""
    from hhs_and_cms_data_pipeline_spark.operators.graph import (
        _LP_HUB_CAP,
        _degrees,
        cooccurrence_edges_cached,
    )
    from pyspark.sql import functions as F

    max_deg = (
        _degrees(cooccurrence_edges_cached(spark, SF_SMOKE))
        .agg(F.max("deg"))
        .collect()[0][0]
    )
    assert max_deg * 4 < _LP_HUB_CAP


def test_hashed_linear_score_broadcasts_model(spark, specs):
    plan = formatted_plan(specs["curation_hashed_linear_score"].builder(spark, SF_SMOKE))
    # the weight table is the model: dim-sized, must broadcast — the
    # corpus side must never shuffle for the lookup
    assert count_broadcast_joins(plan) >= 1
    # feature extraction reads only (doc_id, text)
    assert scan_columns(plan, containing="text") <= {"doc_id", "text"}


def test_semantic_decontaminate_broadcasts_bench(spark, specs):
    plan = formatted_plan(specs["curation_semantic_decontaminate"].builder(spark, SF_SMOKE))
    # benchmark embeddings broadcast; corpus scored map-side
    assert "BroadcastNestedLoopJoin" in plan or count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan


def test_proximity_search_filters_reach_scan(spark, specs):
    plan = formatted_plan(specs["text_proximity_search"].builder(spark, SF_SMOKE))
    # per-term predicates must apply before the positional join: the join
    # moves only the two terms' postings, never the full token stream
    assert plan.count("Filter") >= 2
    assert scan_columns(plan, containing="text") <= {"doc_id", "text"}


def test_rollup_totals_single_expand_agg(spark, specs):
    plan = formatted_plan(specs["xa15_rollup_totals"].builder(spark, SF_SMOKE))
    # one Expand operator feeding one hash aggregation — NOT three scans
    # unioned (formatted explain prints each node twice, tree + detail,
    # so count the "(n) <Node>" detail headers)
    import re

    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_rollup_sentinel_collision_fails_loudly(spark, specs):
    """ADVICE r8: a natural event_type '(all)' (or date 9999-12-31) would
    alias the rollup's subtotal sentinels undetectably — BOTH engines
    compute the same aliasing, so only a loud runtime guard can catch it."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import SparkRuntimeException

    from hhs_and_cms_data_pipeline_spark.operators.relational_ext import (
        _xa15_rollup,
    )

    ok = spark.range(3).select(
        F.lit("click").alias("event_type"),
        F.lit("2024-01-01").cast("date").alias("d"),
        F.lit(1.0).alias("value"),
    )
    assert _xa15_rollup(ok).count() == 3  # (type,d) + subtotal + grand
    bad_type = ok.union(
        spark.range(1).select(
            F.lit("(all)").alias("event_type"),
            F.lit("2024-01-01").cast("date").alias("d"),
            F.lit(1.0).alias("value"),
        )
    )
    with pytest.raises(SparkRuntimeException, match="sentinel collision"):
        _xa15_rollup(bad_type).count()
    bad_date = ok.union(
        spark.range(1).select(
            F.lit("click").alias("event_type"),
            F.lit("9999-12-31").cast("date").alias("d"),
            F.lit(1.0).alias("value"),
        )
    )
    with pytest.raises(SparkRuntimeException, match="sentinel collision"):
        _xa15_rollup(bad_date).count()


def test_markov_transitions_single_window_broadcast_totals(spark, specs):
    # the (prev,next) count artifact is checkpointed (read by two branches,
    # so its one-window build is upstream of the final plan); the final
    # plan must join the per-prev totals as a BROADCAST, never a merge join
    plan = formatted_plan(specs["xa16_markov_transitions"].builder(spark, SF_SMOKE))
    assert count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan
    # the pair-count build itself (pre-checkpoint) is one window pass over
    # the session key — audit it directly
    import re

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sources import table

    ev = table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    frag = formatted_plan(
        ev.select(F.lag("event_type").over(w).alias("prev_type"),
                  F.col("event_type").alias("next_type"))
        .groupBy("prev_type", "next_type").count()
    )
    assert len(re.findall(r"\(\d+\) Window", frag)) == 1


def test_rfm_segments_scalar_thresholds_broadcast(spark, specs):
    plan = formatted_plan(specs["xa17_rfm_segments"].builder(spark, SF_SMOKE))
    # the quartile boundaries are a scalar aggregate joined back as a
    # broadcast over the checkpointed customer-level artifact — the
    # customer table never re-shuffles for the bucketing, and NTILE's
    # global-sort window never appears anywhere
    assert count_broadcast_joins(plan) >= 1
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_ohlc_daily_one_agg_no_window(spark, specs):
    plan = formatted_plan(specs["xt5_ohlc_daily"].builder(spark, SF_SMOKE))
    # open/close ride as struct min/max INSIDE the one hash aggregation —
    # no row_number window pass, one scan
    import re

    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_pmi_collocations_candidates_broadcast(spark, specs):
    plan = formatted_plan(specs["tx16_pmi_collocations"].builder(spark, SF_SMOKE))
    # the support-filtered candidate pairs broadcast into the unigram-count
    # join; totals are 1-row broadcasts; the text scan reads only `text`
    assert count_broadcast_joins(plan) >= 2
    assert scan_columns(plan, containing="text") <= {"doc_id", "text"}


def test_ra_link_prediction_full_agg_shape(spark, specs):
    plan = formatted_plan(specs["graph_ra_link_prediction"].builder(spark, SF_SMOKE))
    # full wedge aggregation (cn-filter shortcut is unsound for RA): the
    # adjacency self-join must stay shuffle-hash, selection is a top-k heap
    assert "ShuffledHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_chunk_spans_is_map_only(spark, specs):
    plan = formatted_plan(specs["tx17_chunk_spans"].builder(spark, SF_SMOKE))
    # chunking is per-row sequence+explode: no joins, no aggregations,
    # the output sort is the only exchange
    assert count_exchanges(plan) <= 1
    assert "Join" not in plan and "HashAggregate" not in plan


def test_compaction_plan_windows_over_reduced_stats(spark, specs):
    plan = formatted_plan(specs["k11_compaction_plan"].builder(spark, SF_SMOKE))
    # the fact table collapses to per-(type, day) stats in one hash agg
    # BEFORE any window: the planner windows run over the reduced
    # metadata relation, never the events scan. Formatted-plan node ids
    # number bottom-up, so the agg's id must be LOWER than every window's.
    import re

    nodes = {
        int(m.group(1)): m.group(2)
        for m in re.finditer(r"^\((\d+)\) (\w+)", plan, re.M)
    }
    agg_ids = [i for i, n in nodes.items() if n == "HashAggregate"]
    win_ids = [i for i, n in nodes.items() if n == "Window"]
    assert agg_ids and win_ids
    assert max(agg_ids) < min(win_ids)


def test_compaction_plan_packs_per_partition_subtree(spark, specs):
    """K11 scale posture: the PACKING window is hash-partitioned by
    event_type — a manifest-scale (10^6-10^7 file) plan must never sort
    the whole stats relation on one node. The only SinglePartition
    exchange allowed feeds the per-TYPE offset window (one row per event
    type), which must come back via broadcast."""
    import re

    plan = formatted_plan(specs["k11_compaction_plan"].builder(spark, SF_SMOKE))
    # packing + per-bin windows are keyed: event_type and bin partitions
    assert re.search(r"hashpartitioning\(event_type", plan)
    assert re.search(r"hashpartitioning\(bin", plan)
    # the offset composition joins back broadcast, not shuffled
    assert "BroadcastHashJoin" in plan
    # at most ONE SinglePartition exchange (the type-count offsets); the
    # file-stats relation itself must never be single-partitioned
    singles = len(re.findall(r"Arguments: SinglePartition", plan))
    assert singles <= 1, plan


def test_ewma_trend_preagg_before_single_window(spark, specs):
    plan = formatted_plan(specs["xt6_ewma_trend"].builder(spark, SF_SMOKE))
    import re

    # all 15 lags evaluate in ONE window pass over the date-grain pre-agg
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    # the pre-aggregation must come below the window (ids number bottom-up)
    aggs = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    wins = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Window", plan)]
    assert aggs and wins and min(aggs) < min(wins)
    # the events scan reads only the two needed columns
    assert scan_columns(plan, containing="event_type") <= {"ts", "event_type"}


def test_rate_limit_windows_share_one_exchange(spark, specs):
    plan = formatted_plan(specs["u5_rate_limit_per_key"].builder(spark, SF_SMOKE))
    import re

    # row_number and the burst-size count stack on the SAME (user, win)
    # exchange: two Window nodes, exactly one exchange below them plus the
    # final output sort — never a third
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert count_exchanges(plan) <= 2
    assert "Join" not in plan


def test_mips_exact_is_broadcast_scan_topk(spark, specs):
    plan = formatted_plan(specs["sim_mips_topk"].builder(spark, SF_SMOKE))
    # one corpus pass: query broadcast, top-k heap, zero data shuffles
    assert count_exchanges(plan) == 0
    assert count_broadcast_joins(plan) >= 1
    assert "TakeOrderedAndProject" in plan


def test_mips_ivf_probe_broadcasts_cells(spark, specs):
    plan = formatted_plan(specs["sim_mips_ivf_topk"].builder(spark, SF_SMOKE))
    # probed cells and the query vector broadcast into the candidate scan;
    # nothing sort-merges; selection is a top-k heap
    assert count_broadcast_joins(plan) >= 2
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_scd2_aggregates_runs_not_events(spark, specs):
    plan = formatted_plan(specs["k12_scd2_user_state"].builder(spark, SF_SMOKE))
    import re

    # the WHOLE derivation stacks on ONE user_id exchange: LAG + running
    # SUM windows, then the run aggregation rides the same sort order as a
    # SortAggregate, then the closing LEAD — plus only the final output
    # sort. A second data exchange appearing here means the (user, run)
    # grouping stopped exploiting the window sort.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert count_exchanges(plan) <= 2, plan
    wins = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Window", plan)]
    aggs = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (?:Hash|Sort)Aggregate", plan)
    ]
    assert len(wins) >= 2 and aggs, plan
    # numbering windows (lowest ids) sit below the run aggregation, the
    # closing LEAD above it
    assert min(wins) < min(aggs) < max(wins)
    assert "Join" not in plan


def test_rolling_median_preagg_single_window(spark, specs):
    plan = formatted_plan(specs["xt7_rolling_median"].builder(spark, SF_SMOKE))
    import re

    # exact frame median rides ONE window pass over the date-grain
    # pre-agg; no UDF, no extra exchange beyond agg + window + output sort
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan
    aggs = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    wins = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Window", plan)]
    assert aggs and wins and min(aggs) < min(wins)


def test_asof_nearest_two_passes_one_partitioning(spark, specs):
    plan = formatted_plan(specs["xj4_asof_nearest"].builder(spark, SF_SMOKE))
    import re

    # the backward and forward carries are window passes over the same
    # user_id hash partitioning (one exchange + re-sort, never a second
    # hash exchange of the data), with no join or row explosion anywhere
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "Join" not in plan
    hash_ex = len(re.findall(r"hashpartitioning\(user_id", plan))
    assert hash_ex <= 1, plan


def test_cusum_windows_stack_on_one_sort_per_type(spark, specs):
    """XT8 plan: the row_number, both prefix windows, and the alarm-rank
    window all share the (event_type, d) order, so Catalyst must stack
    them without re-sorting per window; the fact table collapses to the
    date-grain pre-agg before any window; the per-type training stats
    come back via broadcast."""
    import re

    plan = formatted_plan(specs["xt8_cusum_changepoint"].builder(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # no global single-partition window: every window partitions by type
    assert "Arguments: SinglePartition" not in plan
    # the pre-agg sits below every window (node ids number bottom-up)
    aggs = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    wins = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Window", plan)]
    assert aggs and wins and min(aggs) < min(wins)
    # same-keyed windows stack: the monitor-side chain (prefix sum,
    # running min, alarm rank) reuses the numbering sort straight through
    # the broadcast join — no Sort node may appear between the join and
    # the topmost monitor window. Budget: numbering sort + training-branch
    # group-limit sorts + output ORDER BY.
    n_sorts = len(re.findall(r"\(\d+\) Sort", plan))
    assert n_sorts <= 4, plan
    tree = plan.split("\n\n")[0]
    join_depth = tree.index("BroadcastHashJoin")
    above_join = tree[:join_depth]
    assert "Sort" not in above_join.split("Exchange")[-1], (
        "monitor windows must stack sort-free above the join:\n" + tree
    )


def test_hard_negatives_plan_no_cartesian_anti_exclusion(spark, specs):
    """RET6 plan: the probe-candidate pairing is inverted-index hash
    joins — never a CartesianProduct of data (the only nested-loop joins
    are the 1-row (N, T) stats scalars, each above an aggregate); the
    positive exclusion compiles to ONE anti join."""
    import re

    plan = formatted_plan(
        specs["retrieval_hard_negatives"].builder(spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"Join LeftAnti", plan)) == 1, plan
    tree = plan.split("\n\n")[0]
    for m in re.finditer(r"BroadcastNestedLoopJoin", tree):
        above = tree[: m.start()]
        assert "HashAggregate" in above, plan


def test_star_round_exchange_discipline(spark):
    """r12: one alternating-star round (large + small) must plan every
    shuffle as a DELIBERATE src-keyed repartition — zero planner-inserted
    (ENSURE_REQUIREMENTS) exchanges, zero sort-merge joins (each step's
    groupBy-min and src-keyed join reuse the repartition's partitioning;
    the min table is a shuffled-hash build side)."""
    from hhs_and_cms_data_pipeline_spark.operators.dedup import (
        _large_star,
        _small_star,
    )

    edges = spark.range(0, 200).selectExpr("id + 100 as src", "id % 7 as dst")
    plan = formatted_plan(_small_star(_large_star(edges)))
    assert not has_sort_merge_join(plan), plan
    assert "ENSURE_REQUIREMENTS" not in plan, (
        "a star step stopped reusing the src repartition:\n" + plan
    )
    assert "ShuffledHashJoin" in plan, plan


def test_pagerank_iterations_sort_free(spark, specs):
    """r12: the unrolled PageRank iterations must not sort the edge
    relation — the deg/rank joins are shuffled-hash (GRAPH4's hint,
    extended to GRAPH3; sort-merge planned six full edge sorts)."""
    plan = formatted_plan(specs["graph_pagerank"].builder(spark, SF_SMOKE))
    assert not has_sort_merge_join(plan), plan
    assert "ShuffledHashJoin" in plan, plan


def test_cosine_verify_tail_never_sorts_pairs(spark, specs):
    """r12: cosine_of_pairs (D5/D6/SIM15's shared verify tail) must hash
    the vector side, never sort the candidate-pair relation (sort-merge
    measured 22.7s vs 2.8s on D5's all-pairs frame at sf0.1 — the sort
    carries 64-float embedding arrays as payload)."""
    plan = formatted_plan(specs["dedup_embedding_cosine"].builder(spark, SF_SMOKE))
    assert not has_sort_merge_join(plan), plan
    # SIM15 keeps ONE sort-merge join deliberately — the cell self-join's
    # sides are the same corpus-sized assignment (no smaller build side);
    # its verify tail and output join must still be hash
    plan = formatted_plan(specs["dedup_semantic_prune"].builder(spark, SF_SMOKE))
    assert plan.count("SortMergeJoin") <= 2, plan
    assert "ShuffledHashJoin" in plan, plan


def test_index_incremental_single_corpus_aggregation(spark, specs):
    """r12: RET4 aggregates the token stream ONCE into the (w, doc_id)
    checkpoint; base/delta/full are rollups of that checkpoint (3 scans),
    and no countDistinct Expand survives anywhere in the plan."""
    plan = formatted_plan(
        specs["text_index_incremental"].builder(spark, SF_SMOKE)
    )
    assert "Expand" not in plan, plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan ExistingRDD") == 3, plan


def test_containment_verify_is_candidate_driven(spark, specs):
    """r12: D16's verification joins the candidate frame against the
    per-doc shingle ARRAYS (array_intersect) — no pair-keyed aggregation
    and no second pass over the exploded shingle index on the verify
    side. The only aggregations left are the df index, the candidate
    dedup, and partial/final pairs thereof."""
    plan = formatted_plan(specs["dedup_containment"].builder(spark, SF_SMOKE))
    assert "array_intersect" in plan, plan
    tree = plan.split("\n\n")[0]
    # candidate dedup (partial+final) + the df-cap aggregate (partial+
    # final, duplicated under both broadcast semi sides) — and nothing
    # else: a 7th aggregate means a pair-keyed verify agg crept back
    assert tree.count("HashAggregate") <= 6, plan


def test_lpa_round_single_n_exchange(spark, specs):
    """r13: each LPA round moves rows ONCE — an explicit n-keyed
    repartition that both the (n, lbl) count and the per-n argmax reuse
    (HashPartitioning(n) satisfies both clusterings), and the round's
    label join consumes the previous round's hash(n) output with no
    planner-inserted exchange. Tree shape: 3 REPARTITION_BY_NUM (one per
    round) + exactly 1 ENSURE_REQUIREMENTS (the final community count),
    all label joins shuffled-hash (r12's hint), zero sort-merge."""
    plan = formatted_plan(
        specs["graph_label_propagation"].builder(spark, SF_SMOKE)
    )
    tree = plan.split("\n\n")[0]
    assert not has_sort_merge_join(plan), plan
    assert tree.count("ShuffledHashJoin") == 3, plan
    # partitioning tags appear once per exchange (detail section only)
    assert plan.count("REPARTITION_BY_NUM") == 3, plan
    assert plan.count("ENSURE_REQUIREMENTS") == 1, (
        "a planner-inserted exchange crept back between the per-round "
        "aggregations:\n" + plan
    )
