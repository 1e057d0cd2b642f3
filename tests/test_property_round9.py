"""Property-based tests for the round-9 modules.

Same split as test_property_based.py: pure-Python kernels get wide
random sweeps; Spark-involving properties run a handful of examples
each (a Spark job per example) and pin structural invariants the
example-based tests can't sweep — random separable data for the
classifier parity, random vector corpora for the SemDeDup verdict
invariants.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


# --- pure-Python: token hashing ----------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80), st.integers(min_value=1, max_value=4096))
def test_token_hash_ids_bounds_and_stability(text, dim):
    from terra_bonobo_nodes_spark.llm.classifier import _token_hash_ids

    ids = _token_hash_ids(text, dim)
    assert ids == _token_hash_ids(text, dim)  # stable (no process salt)
    assert all(0 <= i < dim for i in ids)
    assert len(ids) == len(str(text).lower().split())


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=1, max_value=64))
def test_token_hash_ids_null_is_empty(dim):
    from terra_bonobo_nodes_spark.llm.classifier import _token_hash_ids

    assert _token_hash_ids(None, dim) == []
    assert _token_hash_ids(float("nan"), dim) == []


# --- Spark: classifier parity on random data ----------------------------------


@settings(max_examples=5, deadline=None)
@given(data=st.data())
def test_classifier_matches_reference_on_random_data(spark, data):
    from terra_bonobo_nodes_spark.llm.classifier import train_quality_logreg

    n = data.draw(st.integers(min_value=3, max_value=12))
    rows = [
        (
            data.draw(st.floats(-5, 5, allow_nan=False)),
            data.draw(st.floats(-5, 5, allow_nan=False)),
            data.draw(st.integers(0, 1)),
        )
        for _ in range(n)
    ]
    df = spark.createDataFrame(rows, "x1 DOUBLE, x2 DOUBLE, label INT")
    model = train_quality_logreg(df, ["x1", "x2"], iterations=3, lr=0.5)

    X = np.array([r[:2] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)
    m, s = X.mean(axis=0), np.maximum(X.std(axis=0), 1e-12)
    Xs = (X - m) / s
    w, b = np.zeros(2), 0.0
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-(Xs @ w + b)))
        r = p - y
        b -= 0.5 * r.mean()
        w -= 0.5 * (Xs * r[:, None]).mean(axis=0)
    assert np.allclose(model.weights, w, rtol=1e-8, atol=1e-10)
    assert math.isclose(model.bias, b, rel_tol=1e-8, abs_tol=1e-10)


# --- Spark: SemDeDup verdict invariants ---------------------------------------


@settings(max_examples=3, deadline=None)
@given(data=st.data())
def test_semdedup_verdict_invariants(spark, data):
    """Whatever the corpus: exactly one verdict row per input id,
    exactly one survivor per component, and every component id is one
    of its member ids."""
    from terra_bonobo_nodes_spark.llm.semdedup import semantic_dedup

    n = data.draw(st.integers(min_value=1, max_value=12))
    dim = 3
    rows = [
        (
            i,
            [
                data.draw(st.floats(-2, 2, allow_nan=False)) + 0.001
                for _ in range(dim)
            ],
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    out = semantic_dedup(df, n_clusters=4, threshold=0.98).collect()
    assert sorted(r["vec_id"] for r in out) == list(range(n))  # one verdict each
    by_comp: dict[int, list] = {}
    for r in out:
        by_comp.setdefault(r["component_id"], []).append(r)
    for comp_id, members in by_comp.items():
        assert sum(m["is_kept"] for m in members) == 1  # one survivor
        assert comp_id in {m["vec_id"] for m in members}  # label is a member


# --- round 12: from-spec codecs under random inputs ---------------------------


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(
                min_value=-180, max_value=180, allow_nan=False, width=64
            ),
            st.floats(min_value=-90, max_value=90, allow_nan=False, width=64),
            st.integers(min_value=-(10 ** 15), max_value=10 ** 15),
            st.text(
                alphabet=st.characters(
                    min_codepoint=32, max_codepoint=126, exclude_characters=""
                ),
                max_size=20,
            ),
        ),
        max_size=25,
    )
)
def test_shp_codec_roundtrips_any_point_set(rows):
    """write_point_shapefile_zip ∘ read_point_shapefile_zip is the
    identity on any point set in the supported profile: coordinates
    bit-exact (binary doubles), 'N'/'C' attributes back as their str()
    text, record order preserved, archives deterministic."""
    from terra_bonobo_nodes_spark.sources.shp_codec import (
        read_point_shapefile_zip,
        write_point_shapefile_zip,
    )

    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]
    attrs = {"k": [r[2] for r in rows], "s": [r[3].strip() for r in rows]}
    z = write_point_shapefile_zip(xs, ys, attrs)
    assert z == write_point_shapefile_zip(xs, ys, attrs)
    feats = read_point_shapefile_zip(z)
    assert [(f["x"], f["y"]) for f in feats] == list(zip(xs, ys))
    assert [f["attrs"]["k"] for f in feats] == [str(v) for v in attrs["k"]]
    # DBF 'C' storage is space-padded text, so values strip-roundtrip
    assert [f["attrs"]["s"] for f in feats] == [v.strip() for v in attrs["s"]]


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10 ** 9),
            st.floats(min_value=-90, max_value=90, allow_nan=False),
            st.floats(min_value=-180, max_value=180, allow_nan=False),
            st.booleans(),  # tagged?
        ),
        max_size=15,
    )
)
def test_osm_points_runner_on_random_node_sets(nodes):
    """Random node soups: exactly the TAGGED nodes come back as Point
    features (ogr2ogr's points-layer rule), coordinates exact through
    repr -> JSON, tag text preserved."""
    import json as _json

    from terra_bonobo_nodes_spark.sources.osm import (
        build_ogr2ogr_command,
        osm_points_geojson_runner,
    )

    xml = "<osm>" + "".join(
        f'<node id="{i}" lat="{lat!r}" lon="{lon!r}">'
        + (f'<tag k="n" v="t{i}"/>' if tagged else "")
        + "</node>"
        for i, (nid, lat, lon, tagged) in enumerate(nodes)
    ) + "</osm>"
    doc = _json.loads(
        osm_points_geojson_runner(
            build_ogr2ogr_command("/x.osm", "points"), xml.encode()
        )
    )
    want = [
        (str(i), [lon, lat], {"n": f"t{i}"})
        for i, (nid, lat, lon, tagged) in enumerate(nodes)
        if tagged
    ]
    got = [
        (f["id"], f["geometry"]["coordinates"], f["properties"])
        for f in doc["features"]
    ]
    assert got == want
