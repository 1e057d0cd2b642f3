"""Partitioning-determinism sweep: the engine's correctness contract
says every registered query's RESULT is independent of physical layout
— shuffle partition count, input partitioning, reduction order. This
suite re-runs the most numerically/ordering-sensitive queries under a
deliberately hostile layout (7 shuffle partitions instead of 32) and
requires the full row multiset to match bit-for-bit.

This is the standing generalization of the r2/r4 lessons (host noise
and estimator bias both masquerade as flakiness): if a query's result
moves with the layout, no cross-engine oracle can be trusted to catch
it, because both runs might land on the same accidental value.
"""

from __future__ import annotations

import pytest

from terra_bonobo_nodes_spark.plans.registry import all_queries
from tests.conftest import SF_DIR, rows_per_layout

# Queries chosen for sensitivity: float aggregation (trend, median,
# entropy, tfidf), partial top-k merges (rerank, cosine), hash-window
# ranking (reservoir), iterative convergence (components), banded
# self-joins (minhash, winnow), grouped-map Python (isotonic).
SENSITIVE = [
    "t5_user_value_trend",
    "weighted_median_price",
    "llm_lm_entropy_surface",  # r14 widen: + word-LM xent
    "llm_cosine_topk",  # carries the merged rerank columns since r13
    "llm_sample_surface",  # r14 merge: reservoir rank + quota membership
    "llm_dedup_components",
    "llm_hash_neardup_pairs",  # r14 merge: minhash est + value-grain simhash
    "llm_winnow_pairs",
    "t6_isotonic_value_fit",
    "interval_union_coverage",
    # round 6: float score ranking (bm25), survivor election +
    # iterative components (golden record), window-collapse CDC
    "llm_bm25_keyword_topk",
    "golden_record_part_names",
    "cdc_apply_changes",
    # round 13: the promoted shuffle-bearing curation rows — line
    # dedup's min-struct winner election and url dedup's canonical-key
    # groupBy must not move with partition layout
    "llm_line_dedup",
    "llm_url_dedup_groups",
    # round 15: the promoted funnel's dedup window over the filtered set
    "llm_source_rule_funnel",
    # round 16 promotions: the wide host report (5 LPA rounds + 4
    # fixed-point chains), the events funnel (sorted-array fold per
    # user) and retention (min-per-user + cell counts); the widened
    # llm_sample_surface (three samplers' window ranks) is already
    # listed above and now covers the priority rank too
    "llm_host_quality_report",
    "events_conversion_funnel",
    "events_cohort_retention",
    # round 17 promotions: the consolidation surfaces (groupBy +
    # join-back), the PSI float column, the novelty top-k merge window
    "p_record_ops_surface",
    "g_scalar_geometry_surface",
    "corpus_drift_psi",
    "llm_novelty_scores",
]


@pytest.mark.parametrize("name", SENSITIVE)
def test_result_invariant_under_shuffle_layout(name, spark):
    q = all_queries()[name]
    baseline, hostile = rows_per_layout(spark, lambda: q.spark_fn(spark, SF_DIR))
    assert baseline == hostile, f"{name} result moved with shuffle layout"


# --- golden_record: degenerate inputs ----------------------------------------


def test_golden_record_empty_input(spark):
    from terra_bonobo_nodes_spark.operators.linkage import golden_record

    empty = spark.createDataFrame([], "rec_id BIGINT, name STRING")
    out = golden_record(empty, "rec_id", "name")
    assert out.columns == ["entity_id", "n_members", "canonical_name"]
    assert out.count() == 0


def test_golden_record_zero_pairs_all_singletons(spark):
    """No fuzzy match anywhere: every record must still come back as
    its own entity (the left-join + coalesce path, not a dropped row)."""
    from terra_bonobo_nodes_spark.operators.linkage import golden_record

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "zebra"), (3, "quux")], "rec_id BIGINT, name STRING"
    )
    out = golden_record(df, "rec_id", "name", max_distance=1)
    got = {(r["entity_id"], r["n_members"], r["canonical_name"]) for r in out.collect()}
    assert got == {(1, 1, "alpha"), (2, 1, "zebra"), (3, 1, "quux")}


def test_golden_record_transitive_merge_and_singletons(spark):
    from terra_bonobo_nodes_spark.operators.linkage import golden_record

    rows = [
        (1, "acme corp"),
        (2, "acme corp."),      # ~1 edit from 1
        (3, "acme corpse"),     # ~1-2 edits from 2 -> same entity transitively
        (9, "zzz unrelated"),   # singleton
    ]
    df = spark.createDataFrame(rows, "pid long, name string")
    out = {r.entity_id: r for r in golden_record(df, "pid", "name").collect()}
    assert set(out) == {1, 9}
    assert out[1].n_members == 3
    assert out[1].canonical_name == "acme corpse"  # longest wins
    assert out[9].n_members == 1 and out[9].canonical_name == "zzz unrelated"
