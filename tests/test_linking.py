"""Gate (c) from FIXTURES.md §4: entity-linking correctness."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StringType

from raptor_spark.cc import connected_components
from raptor_spark.link import canonical_mapping, link_edges, name_features
from raptor_spark.oracle import (
    _canonical_names,
    _head_names,
    oracle_components,
    oracle_triples,
)
from raptor_spark.synth import ALIAS_CLUSTERS, HEAD_SYMBOLS
from raptor_spark.tokenize import PRED_CONTAINS, PRED_DEFINES


@pytest.fixture(scope="module")
def mapping(triples_df):
    feats = name_features(triples_df).persist()
    try:
        comps = connected_components(link_edges(feats))
        return {r.name: r.canonical for r in canonical_mapping(feats, comps).collect()}
    finally:
        feats.unpersist()


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


def test_head_share_counts_every_repo(spark):
    """The head threshold divides by every repo in the triples, as the
    oracle does, not only by the repos that define a name: ``foo`` is
    defined in 2 of 6 repos, so it is not a head."""
    triples = [
        (f"{repo}:m.py", PRED_DEFINES, f"{name}@{repo}/m.py", repo)
        for name, repo in (("foo", "r1"), ("foo", "r2"), ("bar", "r3"))
    ] + [(repo, PRED_CONTAINS, f"{repo}/m.py", repo) for repo in ("r4", "r5", "r6")]
    df = spark.createDataFrame(triples, "subj string, pred string, obj string, repo string")
    got = {r.name for r in name_features(df).filter("is_head").collect()}
    assert got == _head_names(triples) == set()


# -- driver path vs distributed path ------------------------------------------


@pytest.fixture(scope="module")
def parity_feats(spark):
    """Defined names over four repos, featurized: three head names defined
    everywhere (plus ``Main``, which links to the head ``main`` exactly),
    same-nospace alias groups, fuzzy alias pairs, and 100
    ``handle_request_payload_*`` names whose shared shingles fill LSH
    buckets past MAX_BAND_BUCKET."""
    heads = ["main", "init", "initialize_app"]
    named = [
        "Main", "fetchData", "fetch_data", "FetchData", "parseConfigFile",
        "parse_config_files", "loadUserProfile", "load_user_profiles", "renderPage",
        "initialize_apps",  # Jaccard .81 to a head: heads never link fuzzily
    ]
    crowd = [f"handle_request_payload_{a}{b}" for a in "abcd" for b in "abcdefghijklmnopqrstuvwxy"]
    rows = [
        (PRED_DEFINES, f"{name}@r{i}/m.py", f"r{i}")
        for i in range(4)
        for name in heads + (named + crowd if i == 0 else [])
    ]
    triples = spark.createDataFrame(rows, "pred string, obj string, repo string")
    feats = name_features(triples).persist()
    yield feats
    feats.unpersist()


def test_name_features_is_one_jvm_table(spark):
    """The name table carries the signatures both linking paths read, and
    JVM expressions build all of it: its plan holds no Python UDF node."""
    triples = spark.createDataFrame(
        [(PRED_DEFINES, "fetchData@r0/m.py", "r0"), (PRED_DEFINES, "fetch_data@r1/m.py", "r1")],
        "pred string, obj string, repo string",
    )
    feats = name_features(triples)
    assert feats.columns == [
        "name", "is_head", "norm", "nospace", "first_token", "hsh", "band_hashes",
    ]
    assert feats.schema["name"].nullable is False
    plan = feats._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


def _pairs(df):
    return {tuple(r) for r in df.collect()}


def test_driver_linking_matches_distributed(spark, parity_feats, monkeypatch):
    """Below and above the name cap, link_edges and connected_components
    give identical rows, and so does canonical_mapping over either's
    components — with and without the oversize bucket drop."""
    import raptor_spark.cc as cc
    import raptor_spark.link as link

    heads = {r.name for r in parity_feats.filter("is_head").collect()}
    assert heads == {"main", "init", "initialize_app"}
    sig = parity_feats.filter(~F.col("is_head")).toPandas()
    buckets = Counter(
        (ft, b, h)
        for ft, bands in zip(sig["first_token"], sig["band_hashes"])
        for b, h in enumerate(bands.tolist())
    )
    assert max(buckets.values()) > link.MAX_BAND_BUCKET

    edge_sets = {}
    for max_bucket in (link.MAX_BAND_BUCKET, 10**6):
        monkeypatch.setattr(link, "MAX_BAND_BUCKET", max_bucket)
        monkeypatch.setattr(link, "DRIVER_LINK_MAX_NAMES", 10**6)
        driver = link_edges(parity_feats)
        monkeypatch.setattr(link, "DRIVER_LINK_MAX_NAMES", 0)
        dist = link_edges(parity_feats)
        edge_sets[max_bucket] = _pairs(driver)
        assert edge_sets[max_bucket] == _pairs(dist)

        monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", 10**6)
        comps = connected_components(driver)
        monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", 0)
        comps_dist = connected_components(dist)
        assert _pairs(comps) == _pairs(comps_dist)

        mapping = canonical_mapping(parity_feats, comps)
        mapping_dist = canonical_mapping(parity_feats, comps_dist)
        assert [(f.name, f.dataType, f.nullable) for f in mapping.schema] == [
            ("name", StringType(), False),
            ("component", StringType(), False),
            ("canonical", StringType(), True),
        ]
        assert mapping.schema == mapping_dist.schema
        assert _pairs(mapping) == _pairs(mapping_dist)

    capped, uncapped = edge_sets.values()
    # the exact block: same-nospace groups, a head included
    assert {("Main", "main"), ("FetchData", "fetchData"), ("FetchData", "fetch_data"),
            ("fetchData", "fetch_data")} <= capped
    # the fuzzy block
    assert {("parseConfigFile", "parse_config_files"),
            ("loadUserProfile", "load_user_profiles")} <= capped
    # heads only link exactly
    assert {p for p in uncapped if heads & set(p)} == {("Main", "main")}
    # the oversize buckets were dropped: they held pairs no other bucket did
    assert capped < uncapped


def test_driver_gates_do_not_need_the_arrow_conf(spark, parity_feats):
    """Below the caps, link_edges and connected_components give the same
    rows in a session without the Arrow conf: the gates' collects arrive as
    the same pandas frame, array columns included."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    expected = _pairs(connected_components(link_edges(parity_feats)))
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        got = _pairs(connected_components(link_edges(parity_feats)))
    finally:
        spark.conf.set(conf, old)
    assert got == expected


def test_driver_linking_runs_few_jobs(spark, parity_feats, spark_jobs):
    """Below the cap, the linking chain over materialized name features
    runs a handful of Spark jobs: one capped collect each of the signatures
    and of the edges, which sizes and ships them, then the mapping's own
    collect (a join and a window, with no count and no driver round trip of
    its own). The mapping is collected here so that its jobs count."""
    parity_feats.count()

    def chain():
        comps = connected_components(link_edges(parity_feats))
        canonical_mapping(parity_feats, comps).collect()

    assert spark_jobs(chain) <= 5
