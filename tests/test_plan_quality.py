"""Plan-quality assertions: at 100 TB these properties are the
difference between a working engine and a melted cluster. Each test
inspects the optimized/executed plan, not the results.

  - predicate pushdown reaches the parquet scan (PushedFilters)
  - column pruning reaches the scan (ReadSchema)
  - small dims broadcast (no sort-merge for nation/region)
  - masking/filters stay out of Python (no BatchEvalPython)
  - metadata-only media queries never read the binary column
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hummingbird_spark.filters import mongo_filter_to_column
from hummingbird_spark.plans.queries import QUERIES
from tests.conftest import SF_SMOKE


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["range_scan"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "PushedFilters:" in plan
    # the range predicate must be pushed, not just evaluated post-scan
    assert "GreaterThanOrEqual(l_orderkey,1000" in plan.replace(" ", "")


def test_in_filter_pushdown(spark):
    df = QUERIES["filter_in"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "In(p_brand" in plan.replace(" ", "")


def test_column_pruning(spark):
    df = QUERIES["filter_in"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # ReadSchema carries only the 3 selected columns, not all of part
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_partkey" in read_schema and "p_brand" in read_schema
    assert "p_retailprice" not in read_schema
    assert "p_name" not in read_schema


def test_star_join_broadcasts_dims(spark):
    df = QUERIES["revenue_by_nation"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    # nation/region must not arrive via shuffle-heavy sort-merge
    assert plan.count("BroadcastHashJoin") >= 3


def test_masks_stay_jvm_side(spark):
    for q in ("mask_default", "mask_partial", "mask_hex"):
        plan = _executed_plan(QUERIES[q].spark(spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_mongo_filter_translator_is_pushdownable(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
        mongo_filter_to_column(
            {"o_orderstatus": "O",
             "o_orderdate": {"$gt": {"$date": "1997-01-01T00:00:00Z"}}}
        )
    )
    plan = _executed_plan(df)
    assert "EqualTo(o_orderstatus,O)" in plan.replace(" ", "")
    # plan strings truncate long filter lists — match the stable prefix
    assert "GreaterThan(o_orderd" in plan.replace(" ", "")


def test_metadata_media_query_prunes_binary_column(spark, tmp_path):
    from hummingbird_spark.operators.multimodal import synth_media

    path = str(tmp_path / "media")
    synth_media(spark, 12).write.partitionBy("kind").parquet(path)
    back = spark.read.parquet(path)
    # count by kind without touching payload: data must not be read
    stats = back.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"), F.avg("meta.width").alias("w")
    )
    plan = _executed_plan(stats)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "data" not in read_schema
    # a query that sums payload length -> data IS read there
    plan2 = _executed_plan(back.groupBy("kind").agg(
        F.sum(F.length("data").cast("long")).alias("total_bytes")))
    read_schema2 = plan2.split("ReadSchema:")[1].splitlines()[0]
    assert "data" in read_schema2


def test_aggregates_are_partial_final(spark):
    plan = _executed_plan(QUERIES["pricing_summary"].spark(spark, SF_SMOKE))
    # partial aggregation (map-side combine) before the shuffle
    assert "partial" in plan.lower()


def test_copy_pipeline_pushes_include_filter(spark, tmp_path):
    from hummingbird_spark.config import Include
    from hummingbird_spark.operators.copy import transform_for_include

    df = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
    out = transform_for_include(
        df, Include(namespace="part",
                    filter={"p_brand": {"$in": ["Brand#1"]}}, limit=10)
    )
    plan = _executed_plan(out)
    assert "PushedFilters:" in plan and "p_brand" in plan


def test_grouping_sets_single_expand_pass(spark):
    """GROUPING SETS must compile to ONE Expand + one hash-agg pass
    (one shuffle), not three groupBys unioned together."""
    plan = _executed_plan(QUERIES["grouping_sets"].spark(spark, SF_SMOKE))
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Union" not in plan


def test_scalar_subquery_is_one_row_broadcast(spark):
    """idle_balance's global-average scalar must arrive as a broadcast
    nested-loop over a 1-row aggregate, never a shuffled join."""
    plan = _executed_plan(QUERIES["idle_balance"].spark(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q17_decorrelates_to_single_lineitem_scan(spark):
    """small_qty_revenue: the per-part average must come from a WINDOW
    over the joined frame — exactly one lineitem scan, not the
    aggregate-then-self-join plan's two."""
    plan = _executed_plan(QUERIES["small_qty_revenue"].spark(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") <= plan.count("FileScan")
    assert sum("lineitem" in ln and "FileScan" in ln
               for ln in plan.splitlines()) == 1
    assert "Window" in plan


def test_events_time_range_pushes_to_scan(spark):
    """The events fixture stores TIMESTAMP(NANOS) read as long; a naive
    ts >= filter wraps the column in timestamp_micros() and cannot be
    pushed. load_table(ts_between=...) must put a plain long range into
    PushedFilters (row-group pruning at scale)."""
    plan = _executed_plan(QUERIES["events_time_slice"].spark(spark, SF_SMOKE))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThanOrEqual(ts" in pushed.replace(" ", "")
    assert "LessThan(ts" in pushed.replace(" ", "")

def _formatted_plan(df) -> str:
    """df.explain('formatted') captured as a string — unlike
    executedPlan().toString() it does not truncate long filter lists."""
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_all_predicates_pushed(spark):
    """forecast_revenue is the min-possible plan: every predicate in
    PushedFilters, a 4-column ReadSchema, and the only exchange is the
    1-row final aggregate."""
    df = QUERIES["forecast_revenue"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    fmt = _formatted_plan(df)
    pushed = fmt.split("PushedFilters:")[1].splitlines()[0].replace(" ", "")
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                 "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
                 "LessThan(l_quantity"):
        assert frag in pushed, f"missing {frag} in {pushed}"
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert plan.count("Exchange") == 1  # SinglePartition only


def test_q4_exists_is_semi_join(spark):
    """order_priority_check: EXISTS must become a LeftSemi join (each
    order emitted once, no lineitem columns materialized) with the
    returnflag filter pushed to the probe-side scan."""
    plan = _executed_plan(
        QUERIES["order_priority_check"].spark(spark, SF_SMOKE)
    )
    assert "LeftSemi" in plan
    li_scan = [ln for ln in plan.splitlines()
               if "FileScan" in ln and "lineitem" in ln][0]
    assert "l_orderkey" in li_scan and "l_returnflag" in li_scan
    assert "l_extendedprice" not in li_scan


def test_q16_distinct_dedups_before_shuffle(spark):
    """supplier_variety: COUNT(DISTINCT) must plan as partial dedup on
    (brand, size, suppkey) BEFORE its exchange — the shuffle carries
    distinct triples, not raw lineitem rows."""
    plan = _executed_plan(QUERIES["supplier_variety"].spark(spark, SF_SMOKE))
    lines = plan.splitlines()
    exch = next(i for i, ln in enumerate(lines)
                if "Exchange hashpartitioning" in ln and "l_suppkey" in ln)
    # a keys-only dedup agg must sit BELOW (after, in tree print order)
    # the triple exchange — i.e. map-side, before rows hit the wire
    assert any("HashAggregate" in ln and "functions=[]" in ln.replace(" ", "")
               for ln in lines[exch:]), plan


def test_q19_or_of_ands_derives_per_side_pushdown(spark):
    """disjunctive_revenue: Catalyst must derive the per-side parts of
    the OR-of-ANDs join predicate and push them to BOTH scans (quantity
    ranges to lineitem, brand/size to part) — without this the join
    input is the full table at 100 TB."""
    # formatted explain, not executedPlan().toString(): the scan line
    # there truncates at a width that depends on expression-ID length,
    # so the assertion got flaky when run late in a long session
    fmt = _formatted_plan(QUERIES["disjunctive_revenue"].spark(spark, SF_SMOKE))
    scans = fmt.split("Scan parquet")
    li = [s for s in scans if "lineitem.parquet" in s][0]
    p = [s for s in scans if "part.parquet" in s][0]
    li_pushed = [ln for ln in li.splitlines() if "PushedFilters" in ln][0]
    p_pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "l_quantity" in li_pushed
    assert "Brand#2" in p_pushed


def test_q5_broadcast_dim_chain(spark):
    """local_supplier_volume: all five joins must arrive broadcast at
    the smoke SF (no sort-merge), with a single aggregation shuffle."""
    plan = _executed_plan(
        QUERIES["local_supplier_volume"].spark(spark, SF_SMOKE)
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_q7_nation_in_predicates_pushed(spark):
    """nation_trade_flow: the per-side IN(nation set) must reach BOTH
    nation scans' PushedFilters — that is what prunes supplier/customer
    through the broadcast chain before the fact joins."""
    fmt = _formatted_plan(QUERIES["nation_trade_flow"].spark(spark, SF_SMOKE))
    nation_scans = [s for s in fmt.split("Scan parquet")
                    if "nation.parquet" in s]
    assert len(nation_scans) == 2
    for seg in nation_scans:
        pushed = [ln for ln in seg.splitlines() if "PushedFilters" in ln][0]
        assert "In(n_name" in pushed.replace(" ", "")


def test_curation_single_scan_two_shuffles(spark):
    """corpus_curation: the scored projection is staged once (one
    parquet scan in the whole plan), the keep set arrives broadcast,
    and only the dedup agg + rollup shuffle remain."""
    df = QUERIES["corpus_curation"].spark(spark, SF_SMOKE)
    df.count()  # materialize the lazy checkpoint + finalize AQE
    plan = _executed_plan(df)
    # the documents scan happens inside the checkpoint materialization;
    # the visible plan must consume the cached RDD, not re-scan parquet
    assert "FileScan parquet" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_agg_two_phase(spark):
    """salted_status_counts: two aggregation phases — (key, salt) then
    key — with the salt column absent from the final output."""
    df = QUERIES["salted_status_counts"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "__salt" in plan           # phase-1 grouping key exists
    assert "__salt" not in df.columns  # and never escapes
    assert plan.count("Exchange hashpartitioning") == 2


def test_q2_min_cost_window_decorrelation(spark):
    """min_cost_supplier: the correlated MIN must be a window over the
    joined frame (no third lineitem scan for an agg-then-self-join),
    with supplier chain and part arriving broadcast."""
    df = QUERIES["min_cost_supplier"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    fmt = _formatted_plan(df)
    lineitem_scans = fmt.count("lineitem.parquet")
    assert lineitem_scans == 1, f"expected 1 lineitem scan, saw {lineitem_scans}"


def test_q20_part_filter_before_heavy_shuffle(spark):
    """excess_suppliers: the shipdate range must be pushed to the
    lineitem scan so the HAVING rollup shuffles only the slice."""
    fmt = _formatted_plan(QUERIES["excess_suppliers"].spark(spark, SF_SMOKE))
    li = [s for s in fmt.split("Scan parquet") if "lineitem.parquet" in s]
    assert len(li) == 1
    pushed = [ln for ln in li[0].splitlines() if "PushedFilters" in ln][0]
    flat = pushed.replace(" ", "")
    assert "GreaterThanOrEqual(l_shipdate" in flat
    assert "LessThan(l_shipdate" in flat


def test_q21_single_order_aggregate_two_scans(spark):
    """waiting_suppliers: the EXISTS/NOT EXISTS pair collapses to one
    per-order aggregate — lineitem appears at most twice (late rows +
    stats), never the naive triple self-join."""
    fmt = _formatted_plan(QUERIES["waiting_suppliers"].spark(spark, SF_SMOKE))
    li = [s for s in fmt.split("Scan parquet") if "lineitem.parquet" in s]
    assert len(li) <= 2, f"expected <=2 lineitem scans, saw {len(li)}"


def test_q11_scalar_total_is_broadcast(spark):
    """important_stock: the fraction-of-total comparison arrives as a
    1-row broadcast (nested-loop over a single row), not a shuffle."""
    plan = _executed_plan(QUERIES["important_stock"].spark(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# behavioral-analytics module (queries_analytics.py)
# ---------------------------------------------------------------------------

def test_funnel_chained_windows_one_shuffle(spark):
    """funnel_steps: three chained per-user window mins share the
    hash(user_id) partitioning — one exchange + one sort, then the
    single-row final agg. A plan that re-shuffles per stage would be
    3x the data motion at scale."""
    plan = _executed_plan(QUERIES["funnel_steps"].spark(spark, SF_SMOKE))
    # one partition shuffle for the windows + the 1-row final agg
    assert plan.count("Exchange") <= 2
    assert plan.count("Sort ") == 1


def test_session_stats_single_partition_pass(spark):
    plan = _executed_plan(QUERIES["session_stats"].spark(spark, SF_SMOKE))
    assert plan.count("Exchange") <= 2
    assert plan.count("Sort ") == 1


def test_seg_first_last_broadcasts_customer(spark):
    """seg_first_last: customer is the small side — broadcast, never a
    shuffled sort-merge join; the asc/desc rankings reuse one
    hash(c_mktsegment) exchange (two sorts, one shuffle)."""
    plan = _executed_plan(QUERIES["seg_first_last"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2


def test_top_orders_per_cust_single_shuffle(spark):
    plan = _executed_plan(QUERIES["top_orders_per_cust"].spark(spark, SF_SMOKE))
    assert plan.count("Exchange") == 1


def test_corr_decomposition_is_partial_final(spark):
    """corr_price_qty: the power sums are plain hash aggregates —
    partial map-side combine before the shuffle, no window, no UDAF."""
    plan = _executed_plan(QUERIES["corr_price_qty"].spark(spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_first_order_gap_window_group_limit(spark):
    """The rn<=2 filter must become a WindowGroupLimit that prunes
    map-side BEFORE the shuffle (only each customer's top-2 rows move),
    and the customer dim must broadcast."""
    df = QUERIES["first_order_gap"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sessionized_single_shuffle(spark):
    """lag + cumulative-sum windows and the (user, session) aggregate
    all share ONE hash exchange on user_id (subset partitioning
    satisfies the group distribution); the top-20 is a TakeOrdered,
    not a global sort."""
    df = QUERIES["events_sessionized"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan


def test_fill_rate_broadcasts_supplier(spark):
    df = QUERIES["supplier_fill_rate"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_share_windows_run_over_aggregates(spark):
    """order_price_bands / order_seasonality compute their share
    windows over the tiny post-aggregate frame — the fact scan feeds
    exactly one partial/final agg pair, and the single-partition window
    exchange moves only the aggregated rows."""
    for name in ("order_price_bands", "order_seasonality"):
        df = QUERIES[name].spark(spark, SF_SMOKE)
        plan = _executed_plan(df)
        assert "Window" in plan, name
        # window runs AFTER the aggregate in the plan tree (appears
        # above it in the printed plan)
        assert plan.index("Window") < plan.index("HashAggregate"), name


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark n-gram set must broadcast (it's the MB-scale side;
    the corpus is the 100 TB side) — no shuffle of corpus shingles for
    the join."""
    df = QUERIES["decontamination"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_classifier_scores_ride_the_scan(spark):
    """classifier_quality_mix: scoring is pure projection — exactly one
    exchange in the plan (the per-source rollup), no window, no join."""
    df = QUERIES["classifier_quality_mix"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_segment_dedup_shuffles_hashes_not_text(spark):
    """segment_dup_stats: the exploded segment rows shuffle as
    (doc_id, 32-char md5), never the document text — `text` must not
    appear in any Exchange's schema."""
    df = QUERIES["segment_dup_stats"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    for chunk in plan.split("Exchange")[1:]:
        first_line = chunk.splitlines()[0]
        assert "text" not in first_line, first_line


def test_mixture_temperature_windows_post_aggregate(spark):
    """mixture_temperature: the normalizing window runs over the tiny
    per-source aggregate, after the one fact-scan rollup."""
    df = QUERIES["mixture_temperature"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "Window" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_bm25_shuffles_postings_not_corpus(spark):
    """bm25_topk: the query-term filter rides the explode (scan-side),
    so the aggregation shuffle carries only query-term postings; the
    per-term DF table and corpus scalars arrive broadcast."""
    df = QUERIES["bm25_topk"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_perplexity_capped_model_broadcasts(spark):
    """perplexity_outliers (capped headline, r5): the bounded model
    and the per-context unseen table join the staged occurrence frame
    as BROADCAST hash joins — the probe side never shuffles for the
    model lookup (no SortMergeJoin anywhere in the plan; the only
    wide shuffle is the final groupBy(doc_id))."""
    df = QUERIES["perplexity_outliers"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row vocab cross join
    assert plan.count("BroadcastHashJoin") >= 2  # model + unseen
    assert "SortMergeJoin" not in plan
    # staged explode at occurrence grain feeds the scoring pass
    import re

    assert re.search(r"Scan ExistingRDD\[doc_id#\d+L?,bg#\d+\]", plan)


def test_perplexity_exact_counts_grain_probe(spark):
    """perplexity_outliers_exact (uncapped): the model join's probe
    side stays at per-doc bigram COUNTS grain (r3/r4 skew fix — a hot
    bigram hits the shuffle join once per doc, not once per
    occurrence) and the per-doc mean is the d_cnt-weighted sum."""
    df = QUERIES["perplexity_outliers_exact"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    import re

    assert re.search(r"Scan ExistingRDD\[doc_id#\d+L?,bg#\d+,d_cnt", plan)
    assert "sum(d_cnt" in plan


def test_lm_data_prep_one_scan_one_exchange(spark):
    """lm_data_prep (filter -> chunk -> pack): the whole composition is
    ONE parquet scan and ONE exchange (the packing window's global
    sort); filters and the chunk explode ride the scan."""
    df = QUERIES["lm_data_prep"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") <= 2   # window sort + final rollup


def test_dsir_model_joins_broadcast_and_scan_staged(spark):
    """dsir_logweights: the B-row model and its 1-row totals arrive
    broadcast (no sort-merge anywhere near the model), and the staged
    gram frame feeds all three consumers — the only parquet scan left
    in the visible plan is the doc_id spine of the final left join."""
    df = QUERIES["dsir_logweights"].spark(spark, SF_SMOKE)
    df.count()  # materialize the lazy checkpoint + finalize AQE
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan       # model join
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross join
    assert plan.count("Scan parquet") <= 1   # grams staged, not re-scanned
    assert "BatchEvalPython" not in plan     # pure built-ins, no UDFs


def test_html_extraction_prunes_and_stays_jvm(spark):
    """The web-extraction audit reads only (doc_id, text, source) and
    never leaves the JVM — extraction is a projection on the scan."""
    df = QUERIES["html_main_text_stats"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema  # unused column pruned
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_robots_verdicts_broadcast_no_smj(spark):
    """The URL x rules join must broadcast the (tiny, RFC-bounded)
    rules side — a sort-merge fallback would shuffle every crawl URL
    against it at corpus scale. The ONE allowed SortMergeJoin is the
    r9 full-outer of path rules with per-host delays (both bounded
    by host count; full outer cannot broadcast-hash, and it exists so
    delay-only groups keep their Crawl-delay)."""
    df = QUERIES["robots_crawl_verdicts"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    smj = plan.count("SortMergeJoin")
    assert smj <= 1, f"unexpected extra sort-merge joins: {smj}"
    if smj:
        assert "FullOuter" in plan  # it is the rules/delay join


def test_executed_audit_catches_injected_shuffle(spark):
    """The executed-plan audit (plan_audit.py --executed-*) must flag
    an extra shuffle in the FINAL adaptive plan — the drift class the
    static (pre-AQE, pre-checkpoint) fingerprint cannot see. Injecting
    a repartition into a query mid-plan must change the executed
    fingerprint's exchange count."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(root, "scripts", "plan_audit.py"))
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    from hummingbird_spark.sources.tables import load_table

    base = (
        load_table(spark, SF_SMOKE, "orders")
        .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    )
    injected = (
        load_table(spark, SF_SMOKE, "orders")
        .repartition(7)  # the deliberate extra shuffle
        .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    )
    fp_base = pa.executed_fingerprint(base)
    fp_injected = pa.executed_fingerprint(injected)
    assert fp_base["final"] and fp_injected["final"]
    assert fp_injected["exchanges"] > fp_base["exchanges"], (
        fp_base, fp_injected)
