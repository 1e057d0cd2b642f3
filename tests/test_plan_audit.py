"""Engine-wide physical-plan audit: build (don't run) every registered
query's plan at sf0.001 and reject accidental cartesian products.

A CartesianProduct / BroadcastNestedLoopJoin in a plan is almost always
a dropped join condition — the classic silent scale-killer. The
exceptions below are *deliberate* bounded cross joins and each one
documents why it is safe; anything new joining without keys fails here
first, not on a 100 TB cluster.
"""

from __future__ import annotations

import threading

import pytest

from terra_bonobo_nodes_spark.plans.registry import all_queries
from tests.conftest import plans_cross_join

SF_DIR = "/root/testdata/sf0.001"

# query -> why a nested-loop/cross join is intentional and bounded
CROSS_JOIN_OK: dict[str, str] = {
    "j4_knn_closest_features": "kNN broadcast crossJoin vs dimension-sized right side",
    "j4_knn_list_grid": "same kNN broadcast pattern on the exact side; the grid side equi-joins",
    "llm_embedding_cosine_pairs": "exact all-pairs form is the documented tiny-input oracle; the same row also runs the blocked equi-join scale path and flags its pairs",
    "e2_transit_time_one_to_many": "one-to-many matrix vs broadcast destinations (also carries the merged one-to-one scalar)",
    "llm_tfidf_topk_terms": "single-row corpus-size N broadcast into the score join",
    "llm_bm25_keyword_topk": "single-row (N, avgdl) corpus-stats broadcast into the score projection",
    "llm_temperature_mix_weights": "single-row (sum_n, sum_s) totals broadcast into the per-group weights",
    "llm_lsh_ann_topk": "per-table plane matrix is a broadcast single-row literal",
    "llm_cosine_topk": "broadcast query-matrix literal into mapInPandas scoring",
    "llm_lm_entropy_surface": (
        "single-row word-LM vocabulary scalar broadcast (documented at"
        " llm/lm.py::word_lm_xent; merged r14) + the absorbed"
        " perplexity leg's 1-row bucket-cutoff scalar (late r17)"
    ),
    # bbox-culled broadcast spatial joins: the bbox-overlap predicate is a
    # range condition (not equi-joinable), the layer side is dimension-sized
    # and broadcast — the GiST-index-scan shape. A positive cell= selects
    # the big-big grid equi-join instead, driver-proven by the
    # in_zone_grid column of j1_boolean_intersect.
    "j1_boolean_intersect": "bbox-culled broadcast NLJ vs dimension layer",
    "j2_overlay_surface": (
        "same broadcast spatial-join shape on all three legs (the"
        " entry replacing the three standalone j2 rows it retired"
        " late r17), plus the dissolve leg's 1-row layer-all-boxy"
        " routing scalar BNLJ"
    ),
    "j3_intersection_geom_area": "same broadcast spatial-join shape",
    "g9_line_clip_length": "same broadcast spatial-join shape",
    "layout_zorder_pruning": (
        "probe_scan_counts is a broadcast product of two BOUNDED"
        " per-FILE sides (6 probes x 64 zone rows) — documented in"
        " operators/layout.py"
    ),
    "corpus_drift_psi": (
        "the 1-row (tot_old, tot_new, n_buckets) total broadcast into"
        " the per-bucket share projection (operators/quality.py::"
        "distribution_drift)"
    ),
}


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_accidental_cartesian(name, spark):
    df = all_queries()[name].spark_fn(spark, SF_DIR)
    has_cross = plans_cross_join(df)
    if name in CROSS_JOIN_OK:
        return  # documented intentional cross join (bounded by broadcast)
    assert not has_cross, (
        f"{name} plans a cartesian join:\n"
        f"{df._jdf.queryExecution().executedPlan().toString()[:2000]}"
    )


def test_q3_topk_is_take_ordered_not_global_sort(spark):
    """The global top-10 must plan as TakeOrderedAndProject (per-
    partition heaps merged on the driver), never a single-partition
    Sort — the difference between O(k) and O(n) driver memory."""
    q = all_queries()["tpch_q3_shipping_priority"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q17_correlated_subqueries_decorrelate(spark):
    """Catalyst must rewrite both correlated scalar subqueries into
    per-part aggregates joined back — no per-outer-row re-scan."""
    q = all_queries()["tpch_q17_small_quantity"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per subquery


def test_q3_filters_reach_parquet_scan(spark):
    """Both date predicates must push into the parquet readers (row-
    group skipping at scale), not evaluate post-scan only."""
    q = all_queries()["tpch_q3_shipping_priority"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_q5_all_dimensions_broadcast(spark):
    """Six-table Q5: every dimension side must broadcast at test scale —
    the fact table joins map-side with zero fact shuffles for joins."""
    q = all_queries()["tpch_q5_local_supplier_volume"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 5
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_plan_fingerprint_and_assert_api(spark):
    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.plans.audit import (
        assert_no_cartesian,
        plan_fingerprint,
    )

    a = spark.range(100).withColumn("k", F.col("id") % 10)
    b = spark.range(10).withColumn("k", F.col("id"))
    joined = a.join(b, "k").groupBy("k").count()
    fp = plan_fingerprint(joined)
    assert fp.get("BroadcastHashJoin", 0) + fp.get("SortMergeJoin", 0) >= 1
    assert fp.get("HashAggregate", 0) >= 2  # partial + final
    assert_no_cartesian(joined)  # clean plan passes

    cross = a.crossJoin(b.drop("k"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="will not survive scale"):
        assert_no_cartesian(cross)
    # the escape hatch permits only bounded broadcast NLJs — an unkeyed
    # CartesianProduct is rejected regardless
    from terra_bonobo_nodes_spark.plans.audit import executed_plan

    if "CartesianProduct" in executed_plan(cross):
        with _pytest.raises(ValueError, match="CartesianProduct"):
            assert_no_cartesian(cross, allow_broadcast_nlj=True)
    else:
        assert_no_cartesian(cross, allow_broadcast_nlj=True)


def test_cdc_snapshot_side_never_shuffles(spark):
    """cdc_apply_changes: the base snapshot must reach the anti-join
    with ZERO exchanges (scan -> broadcast anti-join); only the
    changelog side shuffles for its collapse window."""
    q = all_queries()["cdc_apply_changes"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the customer scan feeds the anti-join directly: no Exchange may
    # appear between the scan and the join on the streamed side
    stream_side = plan.split("LeftAnti")[1].split("BroadcastExchange")[0]
    assert "customer.parquet" in stream_side
    assert "Exchange hashpartitioning" not in stream_side


def test_sessionize_is_single_exchange(spark):
    """sessionize_clickstream: lag + running counter + rollup must all
    ride ONE hashpartitioning exchange on the session key — the
    gaps-and-islands optimum (PLANS.md round 6)."""
    q = all_queries()["sessionize_clickstream"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") >= 1


def test_bm25_corpus_scans_are_bounded(spark):
    """llm_bm25_keyword_topk: exactly two corpus scans (tf pipeline +
    corpus stats) — the tf relation's checkpoint barrier must keep the
    dfreq branch from re-inlining a third tokenize pass."""
    q = all_queries()["llm_bm25_keyword_topk"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") <= 2


def test_collapse_repeated_tokens_is_shuffle_free(spark):
    """llm_collapse_repeated_tokens: a pure column expression — the
    plan must contain NO exchange and NO Python stage at all."""
    q = all_queries()["llm_collapse_repeated_tokens"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_source_quota_is_one_window_exchange(spark):
    """source_quota_sample (inside the merged llm_sample_surface row):
    rank + filter ride exactly one hashpartitioning exchange on the
    source key — audited on the operator directly since the r14 merge
    joined it with the reservoir window."""
    from terra_bonobo_nodes_spark.llm.corpus import source_quota_sample
    from terra_bonobo_nodes_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "lang"
    )
    out = source_quota_sample(docs, "source", cap=20, id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_embedding_gram_partials_shuffle_tiny_keys(spark):
    """llm_embedding_gram: ONE mapInPandas stage producing per-partition
    partials, then one aggregate on (i, j) — the corpus itself must
    never hash-shuffle (the exchange moves d(d+1)/2 keys per partition,
    not rows)."""
    q = all_queries()["llm_embedding_gram"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    # one exchange total: the partial-gram aggregation
    assert plan.count("Exchange hashpartitioning") == 1
    # and it sits ABOVE the python stage (partials, not vectors, move)
    assert plan.index("Exchange hashpartitioning") < plan.index("MapInPandas")


def test_embedding_outliers_centroids_broadcast_back(spark):
    """llm_embedding_outliers: the per-label centroid table must come
    back via a broadcast join — the scan side re-reads embeddings
    without a hash shuffle on the join key (only the rank window
    repartitions by label)."""
    q = all_queries()["llm_embedding_outliers"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_xml_roundtrip_plans_no_python_eval(spark):
    """The round-12 lexer claim pinned at the plan level: the whole
    s11 chain (comment strip, CDATA unwrap-and-escape, fragment
    explode, from_xml) is JVM-side Column work — no Python evaluation
    node anywhere in the physical plan."""
    q = all_queries()["s11_xml_document_roundtrip"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_gopher_and_c4_rows_plan_zero_exchange_zero_python(spark):
    """The two promoted rule-battery rows are scan-speed projections —
    the registered plan must carry NO exchange and NO Python stage
    (the property their 100 TB story rests on)."""
    for name in ("llm_gopher_rules", "llm_c4_line_filter"):
        q = all_queries()[name]
        plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, name
        assert "Python" not in plan and "ArrowEval" not in plan, name


def test_url_dedup_row_is_single_aggregate_exchange(spark):
    """llm_url_dedup_groups: canonicalization is a pure projection; the
    only exchange is the hash groupBy on the canonical key (partial
    agg map-side)."""
    q = all_queries()["llm_url_dedup_groups"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan and "ArrowEval" not in plan


def test_line_dedup_row_exchange_budget(spark):
    """llm_line_dedup: explode -> winner-election agg -> join-back ->
    doc regroup -> result join = at most 5 hash exchanges, zero
    Python, and the winner predicate folded into the join as an
    equi-key (no NLJ/cartesian — also enforced by the global audit)."""
    q = all_queries()["llm_line_dedup"]
    plan = q.spark_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 5
    assert "Python" not in plan and "ArrowEval" not in plan


def test_bloom_probe_candidate_plans_zero_exchange(spark):
    """The bloom candidate's probe side (corpus scan -> literal-filter
    membership projection) must stay join-free; only the build side
    aggregates. Probed through the operator directly (the candidate
    row includes the build job)."""
    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.llm.bloom import flag_bloom_contaminated

    corpus = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    plan = (
        flag_bloom_contaminated(corpus, [0] * 2048)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_quality_filter_scoring_plans_no_python_eval(spark):
    """The registered quality-filter row scores in pure Columns
    (sigmoid of a standardized dot unrolled over feature columns) —
    pushdown- and codegen-friendly, zero Python in the plan."""
    q = all_queries()["llm_quality_filter_score"]
    df = q.spark_fn(spark, SF_DIR)
    # execute the SAME Dataset first: the row now carries the
    # scale-gated spread exchange (r17), so the initial AQE plan
    # string has no finalized codegen spans until stages materialize
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "*(" in plan  # whole-stage-codegen stage markers


def test_partition_skew_report_is_distributed_topk(spark):
    """The hot-key ranking is a distributed TakeOrderedAndProject, not
    a global window."""
    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.operators.quality import partition_skew_report
    from terra_bonobo_nodes_spark.plans.audit import executed_plan

    df = spark.range(100).withColumn("k", (F.col("id") % 7).cast("string"))
    rep = partition_skew_report(df, key_cols=["k"], top_n=3)
    plan = executed_plan(rep)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    hot = [r for r in rep.collect() if r.facet == "hot_key"]
    # keys 0 and 1 have 15 rows, the rest 14 — ties break on the key
    assert [(r.key, r.n_rows) for r in hot] == [("0", 15), ("1", 15), ("2", 14)]


def test_partition_skew_report(spark):
    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.operators.quality import partition_skew_report

    df = (
        spark.range(1000)
        .withColumn(
            "k",
            F.when(F.col("id") < 900, "hot").otherwise(F.col("id").cast("string")),
        )
        .repartition(4)
    )
    rows = {
        (r.facet, r.key): r.n_rows
        for r in partition_skew_report(df, ["k"], top_n=3).collect()
    }
    parts = {k: v for (f, k), v in rows.items() if f == "partition"}
    hot = {k: v for (f, k), v in rows.items() if f == "hot_key"}
    assert sum(parts.values()) == 1000 and len(parts) == 4
    assert hot["hot"] == 900 and len(hot) == 3
    # physical facet alone when no keys are given
    assert {r.facet for r in partition_skew_report(df).collect()} == {"partition"}


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_record_ops_surface_plan_shape(spark):
    """The record-ops surface's scale contract: the P5 kept/dropped
    predicates BOTH push to the parquet scan (the partition-union must
    not devolve into post-scan filters), joins broadcast, and nothing
    goes cartesian."""
    from terra_bonobo_nodes_spark.plans.queries_candidates import (
        p_record_ops_surface,
    )

    plan = _formatted_plan(p_record_ops_surface(spark, SF_DIR))
    assert "Cartesian" not in plan
    assert "GreaterThan(l_quantity,30.0)" in plan  # kept branch pushed
    assert "LessThanOrEqual(l_quantity,30.0)" in plan  # dropped branch pushed
    # column pruning reaches the scan: the mins branch reads 2 columns
    assert "struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_scalar_geometry_surface_plan_shape(spark):
    from terra_bonobo_nodes_spark.plans.queries_candidates import (
        g_scalar_geometry_surface,
    )

    plan = _formatted_plan(g_scalar_geometry_surface(spark, SF_DIR))
    assert "Cartesian" not in plan
    # both supplier scans prune to the 2 used columns
    assert plan.count("struct<s_suppkey:bigint,s_acctbal:double>") >= 2


def _executions(spark, run) -> tuple[object, list[str]]:
    """Run ``run()`` and return its result and the final physical plans
    of the SQL executions it started, read from Spark's status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last(k: int) -> list:
        # the store keeps only the newest executions, so its count stops
        # growing in a long session: select by execution id instead
        k = min(store.executionsCount(), k)
        if k == 0:
            return []
        execs = store.executionsList(store.executionsCount() - k, k)
        return [execs.apply(i) for i in range(execs.size())]

    bus.waitUntilEmpty()
    before = max((e.executionId() for e in last(1)), default=-1)
    out = run()
    bus.waitUntilEmpty()
    return out, [e.physicalPlanDescription() for e in last(50) if e.executionId() > before]


def _python_nodes(spark, run) -> tuple[dict[str, int], str]:
    """Run ``run()`` and read the final physical plans of the SQL
    executions it started: per Python node, one count for each
    ``_st_*`` or ``_winnow`` kernel it evaluates and one for a
    ``MapInPandas`` node. Returns the counts and the plans' text."""
    import re

    _, plans = _executions(spark, run)
    counts: dict[str, int] = {}
    for plan in plans:
        tree, _, details = plan.partition("\n\n(")
        # an adaptive plan prints its current (or final) plan, then the
        # initial one; only the first is what ran
        tree = re.split(r"== (?:Final|Current) Plan ==", tree)[-1]
        tree = tree.split("== Initial Plan ==")[0]
        ids = set(re.findall(r"(?:Python|InPandas)\w* \((\d+)\)", tree))
        for block in ("(" + details).split("\n\n"):
            m = re.match(r"\((\d+)\) (\w+)", block)
            if not m or m.group(1) not in ids:
                continue
            names = set(re.findall(r"\b(_st_\w+|_winnow)\(", block))
            if m.group(2) == "MapInPandas":
                names.add("MapInPandas")
            for name in names:
                counts[name] = counts.get(name, 0) + 1
    return counts, "\n".join(plans)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_spatial_rows_run_each_prep_kernel_once(spark):
    """boolean_intersect persists neither side and the join-prep kernels
    evaluate once per row: j1 (a broadcast and a grid call) runs one
    point build, one layer prep and one exact kernel per call, g9 and
    j3 one prep per side."""
    q = all_queries()
    counts, plan = _python_nodes(
        spark, lambda: _noop(q["j1_boolean_intersect"].spark_fn(spark, SF_DIR))
    )
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert counts == {"_st_point": 2, "_st_poly_prep": 2, "_st_intersects": 2}
    counts, _ = _python_nodes(
        spark, lambda: _noop(q["g9_line_clip_length"].spark_fn(spark, SF_DIR))
    )
    assert counts["_st_prepare"] == 1 and counts["_st_poly_prep"] == 1
    counts, _ = _python_nodes(
        spark, lambda: _noop(q["j3_intersection_geom_area"].spark_fn(spark, SF_DIR))
    )
    assert counts["_st_poly_prep"] == 2


def test_overlay_surface_reads_each_side_once(spark):
    """intersection_percent_by_area persists neither side and builds one
    candidate join per call: the three legs of j2_overlay_surface run
    one prep per side each, and the dissolve leg's union needs no
    grouped aggregate and no per-pair intersects or intersection
    kernel — one covered-area call per record measures it."""
    run = all_queries()["j2_overlay_surface"].spark_fn
    counts, plan = _python_nodes(spark, lambda: _noop(run(spark, SF_DIR)))
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert counts["_st_poly_prep"] == 6
    assert "_st_union_area_agg" not in plan
    assert "_st_intersects" not in counts and "_st_intersection" not in counts
    assert sum(counts.values()) == 9, counts


def test_feature_layer_merge_reads_the_batch_once(spark, tmp_path):
    """The upsert into an existing layer evaluates a mapInPandas-built
    batch once: one MapInPandas node, not one per anti-join side."""
    from terra_bonobo_nodes_spark.sinks.feature_layer import load_feature_in_layer

    s2 = all_queries()["s2_geojson_reader_roundtrip"].spark_fn
    root = str(tmp_path / "layers")

    def upsert():
        load_feature_in_layer(s2(spark, SF_DIR), root, "s2", identifier_col="feature_id")

    upsert()  # creates the layer
    counts, _ = _python_nodes(spark, upsert)
    assert counts["MapInPandas"] == 1


RELATIONAL_LLM = (
    "tpch_q1_pricing_summary",
    "star_join_revenue_by_region",
    "stream_window_agg_surface",
    "llm_winnow_pairs",
    "llm_novelty_scores",
)


def test_relational_llm_rows_start_no_job_while_built(spark):
    """Building these rows' frames starts no SQL execution, except
    llm_novelty_scores' documented collect of its query side
    (llm/similarity.py::brute_force_topk)."""
    q = all_queries()
    started = {}
    for name in RELATIONAL_LLM:
        _, plans = _executions(spark, lambda n=name: q[n].spark_fn(spark, SF_DIR))
        started[name] = len(plans)
    assert started == {n: int(n == "llm_novelty_scores") for n in RELATIONAL_LLM}


def test_winnow_pairs_runs_one_kernel_node_and_no_checkpoint(spark):
    """llm_winnow_pairs evaluates its winnow kernel in one Python node,
    reads no checkpointed RDD and starts no job while it is built."""
    run = all_queries()["llm_winnow_pairs"].spark_fn
    df, plans = _executions(spark, lambda: run(spark, SF_DIR))
    assert plans == []
    counts, plan = _python_nodes(spark, lambda: _noop(df))
    assert counts == {"_winnow": 1}
    assert "ExistingRDD" not in plan


def test_decontaminate_substring_runs_one_kernel_node_per_side(spark):
    """llm_decontamination_surface's substring screen winnows the
    candidate and the benchmark side in one Python node each, reads no
    checkpointed RDD, and the row starts no job while it is built once
    its Bloom filter is memoized."""
    run = all_queries()["llm_decontamination_surface"].spark_fn
    run(spark, SF_DIR)  # builds and memoizes the Bloom filter
    df, plans = _executions(spark, lambda: run(spark, SF_DIR))
    assert plans == []
    counts, plan = _python_nodes(spark, lambda: _noop(df))
    assert counts == {"_winnow": 2}
    assert "ExistingRDD" not in plan


# py4j commands each geo_ingest row sends while it is built a second
# time at sf0.001 (281, 134 and 80), plus 10%. A Column operator costs
# about 12 round trips and parsed SQL text about 3, so a row that goes
# back to op-by-op Column chains fails here (j1 built that way sends
# 758).
GEO_INGEST_PY4J_BUDGET = {
    "j1_boolean_intersect": 309,
    "s2_geojson_reader_roundtrip": 147,
    "s12_warc_wet_roundtrip": 88,
}


def _py4j_commands(spark, run) -> int:
    """py4j commands this thread sends while ``run()`` runs, counted as
    perfbench/spans.py::count_py4j counts them: other threads' commands
    and memory commands (the object releases py4j's finalizer thread
    sends whenever Python's garbage collector runs) are left out."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    owner = threading.get_ident()
    sent = 0

    def counted(command, *args, **kwargs):
        nonlocal sent
        if threading.get_ident() == owner and not command.startswith("m\n"):
            sent += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        run()
    finally:
        client.send_command = send
    return sent


def test_geo_ingest_rows_build_within_their_py4j_budget(spark):
    """Building j1, s2 and s12 a second time sends no more py4j commands
    than their budgets allow."""
    q = all_queries()
    sent = {}
    for name in GEO_INGEST_PY4J_BUDGET:
        q[name].spark_fn(spark, SF_DIR)  # first build: table memos, UDFs
        sent[name] = _py4j_commands(spark, lambda n=name: q[n].spark_fn(spark, SF_DIR))
    over = {n: c for n, c in sent.items() if c > GEO_INGEST_PY4J_BUDGET[n]}
    assert not over, f"py4j commands {sent}, budgets {GEO_INGEST_PY4J_BUDGET}"
