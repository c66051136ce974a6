"""Hypothesis property tests for the numeric core: weighted means vs a
numpy model on generated weights/values, conversions, physics bounds.

Data generation happens driver-side per example; one shared Spark job per
example keeps runtime bounded (max_examples is small — these complement,
not replace, the fixed-seed goldens)."""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gridmet_etl_spark.functions.physics import relative_humidity, saturation_vapor_pressure
from gridmet_etl_spark.functions.units import convert
from gridmet_etl_spark.operators.weighted_agg import weighted_mean_wide

cell = st.tuples(
    st.integers(0, 5),  # i
    st.integers(0, 5),  # j
    st.one_of(st.none(), st.floats(-50, 50, allow_nan=False)),  # value
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    cells=st.lists(cell, min_size=1, max_size=30, unique_by=lambda c: (c[0], c[1])),
    wghts=st.lists(st.floats(0.01, 1.0, allow_nan=False), min_size=30, max_size=30),
    masked=st.booleans(),
)
def test_weighted_mean_matches_numpy_model(spark, cells, wghts, masked):
    grid_rows = [("v", -1, "2020-01-01", i, j, 0.0, 0.0, val) for (i, j, val) in cells]
    weight_rows = [(1, i, j, w) for ((i, j, _), w) in zip(cells, wghts)]
    grid = spark.createDataFrame(
        grid_rows, "var string, ens int, time string, i int, j int, lat double, lon double, value double"
    )
    weights = spark.createDataFrame(weight_rows, "feature_id long, i int, j int, wght double")
    out = weighted_mean_wide(grid, weights, ["v"], masked=masked).withColumnRenamed("v", "value").collect()
    assert len(out) == 1
    got = out[0].value

    vals = np.array([c[2] if c[2] is not None else np.nan for c in cells], dtype=float)
    ws = np.array(wghts[: len(cells)], dtype=float)
    if masked:
        m = ~np.isnan(vals)
        expected = np.nan if m.sum() == 0 else float((ws[m] * vals[m]).sum() / ws[m].sum())
    else:
        expected = np.nan if np.isnan(vals).any() else float((ws * vals).sum() / ws.sum())
    if math.isnan(expected):
        assert got is None
    else:
        assert got == pytest.approx(expected, rel=1e-9)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=st.lists(st.floats(-200, 400, allow_nan=False), min_size=1, max_size=8))
def test_conversion_roundtrip_property(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "k double")
    out = df.select(convert(convert("k", "K", "degC"), "degC", "K").alias("r"), "k").collect()
    for r in out:
        assert r.r == pytest.approx(r.k, abs=1e-9)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    t=st.floats(230, 330, allow_nan=False),
    sph=st.floats(1e-4, 0.03, allow_nan=False),
    elev=st.floats(0, 4000, allow_nan=False),
)
def test_physics_bounds_property(spark, t, sph, elev):
    """SVP positive & increasing in T; RH positive and finite."""
    df = spark.createDataFrame([(t, sph, elev)], "t double, sph double, elev double")
    row = df.select(
        saturation_vapor_pressure("t").alias("es"),
        saturation_vapor_pressure(df.t + 1.0).alias("es2"),
        relative_humidity("t", "t", "sph", "elev").alias("rh"),
    ).collect()[0]
    assert row.es > 0 and row.es2 > row.es
    assert row.rh > 0 and math.isfinite(row.rh)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sizes=st.lists(st.integers(1, 500), min_size=1, max_size=60),
    budget=st.integers(10, 1000),
    gw=st.integers(1, 50),
)
def test_pack_shards_properties(spark, sizes, budget, gw):
    """Shard index is nondecreasing in id order, starts at 0, and each
    shard's total stays within budget + its largest member (the crossing
    doc) — for ANY sizes, budget, and group width."""
    from pyspark.sql import functions as F

    from gridmet_etl_spark.operators.sampling import pack_shards

    docs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], ["doc_id", "n_tokens"]
    )
    rows = sorted(
        pack_shards(docs, budget, group_width=gw).collect(), key=lambda r: r.doc_id
    )
    shards = [r.shard for r in rows]
    assert shards[0] == 0
    assert all(a <= b for a, b in zip(shards, shards[1:]))
    per = {}
    for r in rows:
        per.setdefault(r.shard, []).append(r.n_tokens)
    for members in per.values():
        assert sum(members) <= budget + max(members)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(ids=st.lists(st.integers(0, 10_000_000), min_size=1, max_size=80, unique=True))
def test_split_partition_property(spark, ids):
    """Every id gets exactly one split, and the assignment is invariant to
    which other ids are present (no leakage by construction)."""
    from gridmet_etl_spark.operators.sampling import deterministic_split

    docs = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    full = {r.doc_id: r.split for r in deterministic_split(docs).collect()}
    assert set(full) == set(ids)
    half_ids = ids[: max(len(ids) // 2, 1)]
    half = spark.createDataFrame([(i,) for i in half_ids], ["doc_id"])
    for r in deterministic_split(half).collect():
        assert full[r.doc_id] == r.split


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation equals a driver-side union-find on ANY graph."""
    from gridmet_etl_spark.operators.cluster import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == expected


_word = st.sampled_from(["a", "b", "c", "d", "xy", "zz"])
_doc_text = st.lists(_word, min_size=1, max_size=40).map(" ".join)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
def test_span_dedup_properties(spark, texts):
    """Invariants on random corpora: chunk accounting adds up, total kept
    chunks == distinct chunk contents corpus-wide, and a corpus with no
    repeated spans is untouched."""
    import hashlib

    from gridmet_etl_spark.operators.dedup import span_dedup

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    span = 5
    out = span_dedup(df, span_tokens=span).collect()
    got = {r.doc_id: r for r in out}
    all_chunks = []
    for doc_id, text in rows:
        toks = text.lower().split(" ")
        chunks = [
            " ".join(toks[i : i + span]) for i in range(0, len(toks), span)
        ]
        r = got[doc_id]
        assert r.n_chunks == len(chunks)
        assert r.n_kept + r.n_dup_chunks == r.n_chunks
        all_chunks.extend(chunks)
    assert sum(r.n_kept for r in out) == len(set(all_chunks))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(_doc_text, min_size=1, max_size=6))
def test_repetition_stats_matches_python(spark, texts):
    """Arrow kernel vs a direct python model on random word salads."""
    from collections import Counter

    from gridmet_etl_spark.operators.textops import repetition_stats

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    for doc_id, text in rows:
        toks = text.split(" ")
        bigs = list(zip(toks, toks[1:]))
        g5 = list(zip(toks, toks[1:], toks[2:], toks[3:], toks[4:]))
        r = got[doc_id]
        assert r.n_bigrams == len(bigs)
        assert abs(r.top_word_frac - max(Counter(toks).values()) / len(toks)) < 1e-12
        if bigs:
            assert abs(r.top_bigram_frac - max(Counter(bigs).values()) / len(bigs)) < 1e-12
        if g5:
            assert abs(r.dup_5gram_frac - (len(g5) - len(set(g5))) / len(g5)) < 1e-12
