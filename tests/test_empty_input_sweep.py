"""Empty-input robustness sweep: EVERY registered query must plan and
execute against zero-row copies of all ten tables without raising.

Rationale: the two ugliest defect families ADVICE has flagged so far
(similarity.py's empty-query schema drift in r05, jsonl's keep_cols
collision) were both "works on data, breaks on the degenerate input"
bugs. At 100 TB the degenerate input is ROUTINE — a partition-pruned
scan, a filter that matches nothing, a backfill window before the data
starts — so "every operator tolerates an empty relation" is a
first-class contract, enforced here for the whole registry at once
rather than per-operator when someone remembers.

Queries whose CONTRACT requires data (documented collect-by-contract
statistics, iterative codebooks) declare themselves in EXPECTED_RAISES
with the exception they fail fast with — a loud, typed error on empty
input is also a contract, and a better one than returning garbage.
"""

from __future__ import annotations

import pytest

import pyarrow.parquet as pq

from tests.conftest import SF_DIR, TABLES


# Queries allowed to raise on an empty corpus, with the documented
# reason. Anything else that raises is a bug.
EXPECTED_RAISES: dict[str, type[BaseException]] = {
    # (empty since r13: llm_ivf_ann_topk no longer trains k-means in
    # its registered row — the one-hot centroids= seam means empty
    # corpus -> empty result, the better contract; ivf_train's own
    # typed empty-input error is still pinned in test_llm_ops.py.)
}


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory) -> str:
    """Zero-row parquet copies of every table, schema taken verbatim
    from the real sf0.001 files (so timestamp layouts etc. match)."""
    root = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(root / f"{t}.parquet"))
    return str(root)


def _all_query_names() -> list[str]:
    from terra_bonobo_nodes_spark.plans.registry import all_queries

    return sorted(all_queries())


@pytest.mark.parametrize("name", _all_query_names())
def test_query_tolerates_empty_tables(spark, empty_sf_dir, name):
    from terra_bonobo_nodes_spark.plans.registry import all_queries

    q = all_queries()[name]
    expected = EXPECTED_RAISES.get(name)
    if expected is not None:
        with pytest.raises(expected):
            q.spark_fn(spark, empty_sf_dir).limit(5).collect()
        return
    df = q.spark_fn(spark, empty_sf_dir)
    rows = df.limit(5).collect()
    # executing is the point; a few queries legitimately produce
    # constant/summary rows from empty input (counts of zero), so any
    # row content is fine — only raising is a failure
    assert rows is not None
    assert len(df.columns) > 0
