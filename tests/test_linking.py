"""Gate (c) from FIXTURES.md §4: entity-linking correctness."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from raptor_spark.cc import connected_components
from raptor_spark.link import canonical_mapping, link_edges, name_features
from raptor_spark.oracle import (
    _canonical_names,
    _head_names,
    oracle_components,
    oracle_triples,
)
from raptor_spark.synth import ALIAS_CLUSTERS, HEAD_SYMBOLS


@pytest.fixture(scope="module")
def mapping(triples_df):
    comps = connected_components(link_edges(triples_df))
    return {
        r.name: r.canonical for r in canonical_mapping(triples_df, comps).collect()
    }


def test_alias_clusters_merge(mapping):
    for cluster in ALIAS_CLUSTERS:
        present = [c for c in cluster if c in mapping]
        if len(present) >= 2:
            assert len({mapping[c] for c in present}) == 1, cluster


def test_disjoint_symbols_do_not_merge(mapping):
    # distinct alias clusters land in distinct components
    canons = set()
    for cluster in ALIAS_CLUSTERS:
        present = [c for c in cluster if c in mapping]
        if present:
            c = mapping[present[0]]
            assert c not in canons, f"cluster {cluster} merged into another"
            canons.add(c)


def test_head_symbols_stay_singletons(mapping):
    # main / utils / init must not fuzzy-merge with anything or each other
    assert len({mapping[h] for h in HEAD_SYMBOLS if h in mapping}) == len(
        [h for h in HEAD_SYMBOLS if h in mapping]
    )
    for h in HEAD_SYMBOLS:
        if h in mapping:
            assert mapping[h] == h


def test_no_giant_component(mapping):
    from collections import Counter

    sizes = Counter(mapping.values())
    biggest = sizes.most_common(1)[0]
    assert biggest[1] <= 16, f"giant component: {biggest}"


def test_matches_exhaustive_oracle(mapping, corpus_rows):
    golden = oracle_components(oracle_triples(corpus_rows))
    assert set(mapping) == set(golden)
    agree = sum(1 for k in golden if mapping[k] == golden[k])
    assert agree / len(golden) >= 0.98, f"agreement {agree / len(golden):.3f}"


@pytest.fixture(scope="module")
def feats(triples_df):
    return name_features(triples_df).select("name", "is_head").collect()


def test_head_detection(feats, corpus_rows):
    # the pipeline's head flags and the oracle's per-name repo count both
    # single out the skew heads, and only them
    got = {r.name for r in feats if r.is_head}
    want = _head_names(oracle_triples(corpus_rows))
    for heads in (got, want):
        assert set(HEAD_SYMBOLS) <= heads
        assert "fetchData" not in heads


def test_name_features_matches_oracle(feats, corpus_rows):
    # the fused one-shuffle name_features flags exactly the names the
    # single-process oracle flags, over exactly its distinct defined names
    triples = oracle_triples(corpus_rows)
    assert {r.name for r in feats} == set(_canonical_names(triples))
    assert {r.name for r in feats if r.is_head} == _head_names(triples)
