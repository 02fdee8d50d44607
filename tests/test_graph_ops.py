"""Semantic gates for operators/graph.py and cc.merge_components on graphs
with hand-countable structure, plus the incremental-CC ≡ full-recompute
identity the checkpoint-restart story rests on."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from raptor_spark.cc import connected_components, merge_components
from raptor_spark.operators.graph import (
    bfs_levels,
    degrees,
    pagerank,
    symmetrize,
    triangle_stats,
    two_hop_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_symmetrize_drops_self_loops_and_dups(spark):
    e = _edges(spark, [(1, 2), (2, 1), (1, 1), (2, 3), (2, 3)])
    rows = {(r.src, r.dst) for r in symmetrize(e).collect()}
    assert rows == {(1, 2), (2, 1), (2, 3), (3, 2)}


def test_degrees_on_star_plus_edge(spark):
    # star 0-{1,2,3} plus chord 1-2
    e = _edges(spark, [(0, 1), (0, 2), (0, 3), (1, 2)])
    d = {r.id: r.degree for r in degrees(e).collect()}
    assert d == {0: 3, 1: 2, 2: 2, 3: 1}


def test_triangle_stats_known_counts(spark):
    # K4 has 4 triangles, C(3,2)*4 = 12 wedges, clustering 1.0;
    # appending a pendant vertex adds 3 wedges at vertex 0 and no triangle
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r = triangle_stats(_edges(spark, k4)).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.clustering == 1.0

    r2 = triangle_stats(_edges(spark, k4 + [(0, 9)])).collect()[0]
    assert (r2.n_nodes, r2.n_edges, r2.n_triangles) == (5, 7, 4)
    assert r2.n_wedges == 15
    assert abs(r2.clustering - 3.0 * 4 / 15) < 1e-9


def test_triangle_stats_triangle_free(spark):
    # C4 (square): 4 wedges, 0 triangles
    r = triangle_stats(_edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])).collect()[0]
    assert (r.n_wedges, r.n_triangles, r.clustering) == (4, 0, 0.0)


def test_two_hop_counts_path(spark):
    # path 0-1-2-3-4: two-hop neighbors are exactly distance-2 vertices
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    d = {r.id: r.n_two_hop for r in two_hop_counts(e).collect()}
    assert d == {0: 1, 1: 1, 2: 2, 3: 1, 4: 1}


def test_two_hop_excludes_direct_neighbors(spark):
    # triangle: every 2-hop path lands on a direct neighbor or self → empty
    e = _edges(spark, [(0, 1), (1, 2), (0, 2)])
    assert two_hop_counts(e).count() == 0


def test_bfs_levels_path_and_unreachable(spark):
    # path 0-1-2-3-4 plus isolated edge 10-11; source {0}
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)])
    src = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.level for r in bfs_levels(e, src).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bfs_levels_multi_source_min_distance(spark):
    # sources at both ends of a path take the min distance
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    src = spark.createDataFrame([(0,), (4,)], "id long")
    got = {r.id: r.level for r in bfs_levels(e, src).collect()}
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_levels_random_graph_matches_python_bfs(spark):
    import random
    from collections import deque

    rng = random.Random(11)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(90)]
    pairs = [(a, b) for a, b in pairs if a != b]
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    sources = [v for v in adj if v % 7 == 0]
    dist = {v: 0 for v in sources}
    dq = deque(sources)
    while dq:
        v = dq.popleft()
        for u in adj[v]:
            if u not in dist:
                dist[u] = dist[v] + 1
                dq.append(u)
    e = _edges(spark, pairs)
    src = spark.createDataFrame([(v,) for v in sources], "id long")
    got = {r.id: r.level for r in bfs_levels(e, src).collect()}
    assert got == dist


def test_pagerank_matches_numpy_power_iteration(spark):
    import random

    rng = random.Random(5)
    pairs = [(rng.randrange(25), rng.randrange(25)) for _ in range(40)]
    pairs = [(a, b) for a, b in pairs if a != b]
    # python reference on the symmetrized distinct edge set
    sym = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    nodes = sorted({v for edge in sym for v in edge})
    odeg = {v: sum(1 for s, _ in sym if s == v) for v in nodes}
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        contrib = {v: 0.0 for v in nodes}
        for s, d in sorted(sym):
            contrib[d] += rank[s] / odeg[s]
        rank = {v: (1.0 - 0.85) / n + 0.85 * contrib[v] for v in nodes}
    got = {r.id: r.rank for r in pagerank(_edges(spark, pairs), n_iter=5).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-9, v


def test_pagerank_sums_to_one(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (3, 0)])
    total = sum(r.rank for r in pagerank(e, n_iter=8).collect())
    assert abs(total - 1.0) < 1e-9


def test_driver_union_find_matches_distributed_loop(spark, monkeypatch):
    """The size-gated driver fast path (cc.DRIVER_CC_MAX_EDGES) must be
    row-for-row identical to the distributed label-propagation loop —
    including a long chain (pointer-jumping territory), a clique, bridges,
    and string labels — so the gate is a pure plan choice, never a
    semantics choice."""
    import random

    import raptor_spark.cc as cc

    def components(edges, cap):
        monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", cap)
        return {(r.name, r.component) for r in connected_components(edges).collect()}

    rng = random.Random(21)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    pairs += [(i, i + 1) for i in range(100, 140)]          # 41-node chain
    pairs += [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    fast = components(e, 10**6)
    loop = components(e, 0)
    assert fast == loop and len(fast) > 0

    # the driver path reads raw edge rows: reversed and repeated pairs
    # (and self-loops) must label exactly as the distinct edge set does
    messy = [(a, b) for a, b in pairs if a != b]
    messy += [(b, a) for a, b in messy[::3]] + messy[::5] + [(300, 300)]
    me = _edges(spark, messy)
    for cap in (10**6, 0):
        assert components(me, cap) == fast | {(300, 300)}

    # string labels (the near_dup_clusters / link_edges domain)
    se = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], ["a", "b"]
    )
    fast_s = components(se, 10**6)
    assert fast_s == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")
    }


def _driver_with(mem):
    """A stand-in session whose spark.driver.memory is ``mem``."""
    from types import SimpleNamespace

    return SimpleNamespace(conf=SimpleNamespace(get=lambda key, default=None: mem))


def test_driver_cc_edge_cap_scales_with_driver_memory(spark):
    """VERDICT r3 #4: the 4M-edge driver-collect gate was sized against the
    8g default driver; a smaller configured driver must get a
    proportionally smaller cap so it never collects an 8g-sized edge set."""
    from raptor_spark.cc import (
        DRIVER_CC_MAX_EDGES,
        _parse_memory_gib,
        driver_memory_cap,
    )

    assert _parse_memory_gib("8g") == 8.0
    assert _parse_memory_gib("4096m") == 4.0
    assert _parse_memory_gib("2G") == 2.0
    # bare numbers are MiB (Spark parses spark.driver.memory with
    # bytesConf(ByteUnit.MiB)) — ADVICE r4: '4096' means 4 GiB, not bytes
    assert _parse_memory_gib("4096") == 4.0
    assert _parse_memory_gib("1024") == 1.0

    fake = _driver_with
    assert driver_memory_cap(fake("8g"), DRIVER_CC_MAX_EDGES) == DRIVER_CC_MAX_EDGES
    assert driver_memory_cap(fake("16g"), DRIVER_CC_MAX_EDGES) == DRIVER_CC_MAX_EDGES  # capped
    assert driver_memory_cap(fake("2g"), DRIVER_CC_MAX_EDGES) == DRIVER_CC_MAX_EDGES // 4
    assert driver_memory_cap(fake("1g"), DRIVER_CC_MAX_EDGES) == DRIVER_CC_MAX_EDGES // 8
    assert driver_memory_cap(fake("not-a-size"), DRIVER_CC_MAX_EDGES) == DRIVER_CC_MAX_EDGES // 8

    # the real session resolves a positive cap and the default-gated path
    # still matches the pinned-gate paths above
    cap = driver_memory_cap(spark, DRIVER_CC_MAX_EDGES)
    assert 0 < cap <= DRIVER_CC_MAX_EDGES
    se = spark.createDataFrame([("b", "a"), ("c", "b")], ["a", "b"])
    auto = {(r.name, r.component) for r in connected_components(se).collect()}
    assert auto == {("a", "a"), ("b", "a"), ("c", "a")}


def test_driver_collect_returns_rows_up_to_the_scaled_cap(spark):
    """One capped collect is the gate: all n rows at a cap of n, None at
    n - 1, and an empty frame at any cap; the cap scales with the driver
    memory as driver_memory_cap scales it."""
    from types import SimpleNamespace

    from raptor_spark.cc import driver_collect

    def on_driver(df, mem):
        return SimpleNamespace(sparkSession=_driver_with(mem), limit=df.limit)

    df = spark.range(16).selectExpr("cast(id as string) as a")
    rows = driver_collect(on_driver(df, "8g"), 16)
    assert sorted(rows["a"]) == sorted(str(i) for i in range(16))
    assert driver_collect(on_driver(df, "8g"), 15) is None
    # at 2g the cap is a quarter of the 8g one
    assert len(driver_collect(on_driver(df, "2g"), 64)) == 16
    assert driver_collect(on_driver(df, "2g"), 63) is None
    empty = driver_collect(on_driver(df.limit(0), "8g"), 16)
    assert list(empty.columns) == ["a"] and len(empty) == 0


def test_merge_components_equals_full_recompute(spark):
    import random

    rng = random.Random(7)
    old = [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]
    new = [(rng.randrange(30, 70), rng.randrange(30, 70)) for _ in range(40)]
    old_e = _edges(spark, [(a, b) for a, b in old if a != b])
    new_e = _edges(spark, [(a, b) for a, b in new if a != b])

    labels = connected_components(old_e)
    merged = {
        (r.name, r.component)
        for r in merge_components(labels, new_e).collect()
    }
    full = {
        (r.name, r.component)
        for r in connected_components(old_e.unionByName(new_e)).collect()
    }
    # merged must contain every vertex of the union graph with the same
    # component representative (min member); old-only singletons also survive
    assert merged == full


def test_merge_components_preserves_untouched_labels(spark):
    old_e = _edges(spark, [(1, 2), (3, 4)])
    labels = connected_components(old_e)
    merged = {
        (r.name, r.component)
        for r in merge_components(labels, _edges(spark, [(10, 11)])).collect()
    }
    assert {(1, 1), (2, 1), (3, 3), (4, 3), (10, 10), (11, 10)} == merged


def test_cooccurrence_edges_tiny_corpus(spark):
    """Edge weights equal per-document-distinct co-mention counts on a
    hand-built corpus (duplicate terms inside one doc count once)."""
    from raptor_spark.operators.graph import cooccurrence_edges

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "a c a")],
        "doc_id long, text string",
    )
    out = {
        (r["a"], r["b"]): r["n_docs"]
        for r in cooccurrence_edges(
            docs, "doc_id", "text", vocab_size=10, min_docs=1
        ).collect()
    }
    assert out == {("a", "b"): 2, ("a", "c"): 2, ("b", "c"): 1}


def test_label_propagation_two_cliques_with_bridge(spark):
    """Two triangles joined by one bridge edge resolve to one community per
    clique (labels = min clique member after convergence)."""
    from raptor_spark.operators.graph import label_propagation

    e = _edges(
        spark,
        [(0, 1), (0, 2), (1, 2), (5, 6), (5, 7), (6, 7), (2, 5)],
    )
    got = {r.id: r.community for r in label_propagation(e, n_iter=5).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 5: 2, 6: 2, 7: 2}


def test_label_propagation_matches_python_simulation(spark):
    """Fixed-K synchronous LPA (neighbor-mode, tie -> min label) equals a
    pure-python round-by-round simulation on a seeded random graph."""
    import random
    from collections import Counter

    from raptor_spark.operators.graph import label_propagation

    rng = random.Random(13)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(70)]
    pairs = [(a, b) for a, b in pairs if a != b]
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {v: v for v in adj}
    for _ in range(4):
        nxt = {}
        for v in adj:
            cnt = Counter(label[u] for u in adj[v])
            best = max(cnt.values())
            nxt[v] = min(l for l, c in cnt.items() if c == best)
        label = nxt
    got = {
        r.id: r.community
        for r in label_propagation(_edges(spark, pairs), n_iter=4).collect()
    }
    assert got == label


def test_kcore_triangle_with_tail(spark):
    """Triangle + tail 2-3-4: the 2-core is exactly the triangle (the tail
    peels over two rounds — 4 first, then 3)."""
    from raptor_spark.operators.graph import kcore

    e = _edges(spark, [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)])
    got = {r.id: r.core_degree for r in kcore(e, k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_kcore_k3_on_k4_plus_pendant(spark):
    from raptor_spark.operators.graph import kcore

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = {r.id: r.core_degree for r in kcore(_edges(spark, k4 + [(0, 9)]), k=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_empty_when_no_core(spark):
    from raptor_spark.operators.graph import kcore

    # a tree has no 2-core
    e = _edges(spark, [(0, 1), (1, 2), (1, 3), (3, 4)])
    assert kcore(e, k=2).count() == 0


def test_kcore_round_truncation_matches_partial_peel(spark):
    """n_rounds=1 performs exactly one peel: path 0-1-2-3-4 loses only the
    endpoints (interior vertices still have degree 2 against the ORIGINAL
    set)."""
    from raptor_spark.operators.graph import kcore

    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    got = {r.id: r.core_degree for r in kcore(e, k=2, n_rounds=1).collect()}
    # survivors {1,2,3}; degrees WITHIN survivors: 1-2, 2-3
    assert got == {1: 1, 2: 2, 3: 1}


def test_sssp_weighted_path_and_multi_source(spark):
    from raptor_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 10.0), (0, 2, 5.0), (2, 3, 1.0), (8, 9, 1.0)],
        "a long, b long, w double",
    )
    src = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.dist for r in sssp(e, src).collect()}
    # 0->2 direct (5.0) beats 0->1->2 (11.0); 8/9 unreachable -> absent
    assert got == {0: 0.0, 1: 1.0, 2: 5.0, 3: 6.0}

    src2 = spark.createDataFrame([(0,), (9,)], "id long")
    got2 = {r.id: r.dist for r in sssp(e, src2).collect()}
    assert got2 == {0: 0.0, 1: 1.0, 2: 5.0, 3: 6.0, 9: 0.0, 8: 1.0}


def test_sssp_round_truncation(spark):
    """n_rounds bounds the path LENGTH in edges: with one round only the
    direct neighbors relax."""
    from raptor_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)], "a long, b long, w double"
    )
    src = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.dist for r in sssp(e, src, n_rounds=1).collect()}
    assert got == {0: 0.0, 1: 1.0}


def test_sssp_parallel_edges_min_merged(spark):
    from raptor_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [(0, 1, 5.0), (0, 1, 2.0), (1, 0, 7.0)], "a long, b long, w double"
    )
    src = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.dist for r in sssp(e, src).collect()}
    assert got == {0: 0.0, 1: 2.0}


def test_pagerank_warm_start_resumes_iteration(spark):
    """Warm-starting from run A's output must equal running the combined
    iteration count cold — the checkpoint-restart identity for iterative
    graph jobs (same contract as incremental_clusters for CC)."""
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (3, 0), (2, 3)])
    cold = {r.id: r.rank for r in pagerank(e, n_iter=6).collect()}
    first = pagerank(e, n_iter=4)
    resumed = {r.id: r.rank for r in pagerank(e, n_iter=2, init_ranks=first).collect()}
    assert set(cold) == set(resumed)
    for v in cold:
        assert abs(cold[v] - resumed[v]) < 1e-12, v


def test_pagerank_warm_start_handles_new_and_stale_vertices(spark):
    """New vertices absent from the checkpoint start uniform; vertices that
    left the graph are dropped from the output."""
    old = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    prev = pagerank(old, n_iter=3)
    new = _edges(spark, [(0, 1), (1, 2), (2, 0), (1, 9)])  # 9 joins, none leave
    got = {r.id: r.rank for r in pagerank(new, n_iter=2, init_ranks=prev).collect()}
    assert set(got) == {0, 1, 2, 9}
    shrunk = _edges(spark, [(0, 1)])  # 2 and 9 leave
    got2 = {r.id for r in pagerank(shrunk, n_iter=1, init_ranks=prev).collect()}
    assert got2 == {0, 1}


def test_hits_two_hubs_one_authority(spark):
    """(0→2),(1→2): 2 is the sole authority (auth 1.0), 0 and 1 split the
    hub mass evenly; scores absent from a side coalesce to 0."""
    from raptor_spark.operators.graph import hits

    got = {r.id: (r.hub, r.auth) for r in hits(_edges(spark, [(0, 2), (1, 2)])).collect()}
    assert got == {0: (0.5, 0.0), 1: (0.5, 0.0), 2: (0.0, 1.0)}


def test_hits_matches_python_replay(spark):
    """Random directed graph vs a pure-Python replay of the same fixed-K
    L1-normalized half-steps (the arithmetic the unrolled oracle runs)."""
    import random

    from raptor_spark.operators.graph import hits

    rng = random.Random(7)
    pairs = sorted({(a, b) for a, b in (
        (rng.randrange(20), rng.randrange(20)) for _ in range(50)
    ) if a != b})
    nodes = sorted({v for e in pairs for v in e})
    hub = {v: 1.0 for v in nodes}
    auth = {}
    for _ in range(4):
        auth = {v: 0.0 for v in nodes}
        for a, b in pairs:
            auth[b] += hub[a]
        tot = sum(auth.values())
        auth = {v: s / tot for v, s in auth.items() if s != 0.0}
        hub = {v: 0.0 for v in nodes}
        for a, b in pairs:
            hub[a] += auth.get(b, 0.0)
        tot = sum(hub.values())
        hub = {v: s / tot for v, s in hub.items() if s != 0.0}
    got = {r.id: (r.hub, r.auth) for r in hits(_edges(spark, pairs), n_iter=4).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v][0] - hub.get(v, 0.0)) < 1e-9, v
        assert abs(got[v][1] - auth.get(v, 0.0)) < 1e-9, v


def test_local_clustering_planted_graph(spark):
    from raptor_spark.operators.graph import local_clustering

    # K4 on {1,2,3,4}: every node lcc = 1, n_tri = 3, degree = 3.
    # Pendant 5-1: node 5 degree 1 -> lcc 0; node 1 degree 4, still 3
    # triangles -> lcc = 2*3/(4*3) = 0.5.
    # Path 6-7-8: node 7 degree 2, no triangle -> lcc 0.
    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    e = _edges(spark, k4 + [(5, 1), (6, 7), (7, 8)])
    out = {r.id: r for r in local_clustering(e).collect()}
    for v in (2, 3, 4):
        assert (out[v].degree, out[v].n_tri, out[v].lcc) == (3, 3, 1.0)
    assert (out[1].degree, out[1].n_tri, out[1].lcc) == (4, 3, 0.5)
    assert (out[5].degree, out[5].n_tri, out[5].lcc) == (1, 0, 0.0)
    assert (out[7].degree, out[7].n_tri, out[7].lcc) == (2, 0, 0.0)
    # conservation: per-node triangle counts sum to 3x the global census
    stats = triangle_stats(e).collect()[0]
    assert sum(r.n_tri for r in out.values()) == 3 * stats.n_triangles


def test_local_clustering_partition_invariance(spark):
    from raptor_spark.operators.graph import local_clustering

    pairs = [(i, (i * 7) % 23) for i in range(60)] + [(i, (i + 1) % 23) for i in range(23)]
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    a = local_clustering(e)
    b = local_clustering(e.repartition(11, "a"))
    key = lambda r: (r.id, r.degree, r.n_tri, round(r.lcc, 10))
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_textrank_hub_outranks_isolated_frequent_term(spark):
    # "hub" co-occurs with every other vocab word; "loner" is frequent but
    # only ever co-occurs with one word. Centrality must rank hub first
    # even though loner's raw document frequency matches it.
    from raptor_spark.operators.graph import cooccurrence_edges, pagerank

    import pyspark.sql.functions as F

    docs = [(i, f"hub w{i % 4} x{i % 3}") for i in range(24)]
    docs += [(100 + i, "loner mate") for i in range(24)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    edges = cooccurrence_edges(df, "doc_id", "text", vocab_size=12, min_docs=2)
    pr = pagerank(edges.select("a", "b"), n_iter=5, damping=0.85)
    ranks = {r["id"]: r["rank"] for r in pr.collect()}
    assert ranks["hub"] > ranks["loner"]
    assert ranks["hub"] == max(ranks.values())


def test_personalized_pagerank_hand_fixture(spark):
    # Path graph 1-2-3, seed {1}, two rounds, d=0.85 — hand-computed:
    # r1 = {1: 0.15, 2: 0.85}; r2 = {1: 0.51125, 2: 0.1275, 3: 0.36125}.
    from raptor_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    seeds = spark.createDataFrame([(1,)], ["id"])
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(edges, seeds, n_iter=2).collect()
    }
    assert abs(got[1] - 0.51125) < 1e-12
    assert abs(got[2] - 0.1275) < 1e-12
    assert abs(got[3] - 0.36125) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_personalized_pagerank_all_seeds_equals_pagerank(spark):
    # Teleporting uniformly to EVERY vertex is exactly global PageRank.
    from raptor_spark.operators.graph import pagerank, personalized_pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)], ["a", "b"]
    )
    seeds = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    pr = {r["id"]: r["rank"] for r in pagerank(edges, n_iter=4).collect()}
    ppr = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(edges, seeds, n_iter=4).collect()
    }
    assert set(pr) == set(ppr)
    assert all(abs(pr[k] - ppr[k]) < 1e-12 for k in pr)


def test_personalized_pagerank_stays_in_seed_component(spark):
    # Disconnected component {10, 11} never receives mass from seed 1;
    # output domain is the seed's reachable ball only.
    from raptor_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([(1, 2), (10, 11)], ["a", "b"])
    seeds = spark.createDataFrame([(1,)], ["id"])
    got = {
        r["id"]
        for r in personalized_pagerank(edges, seeds, n_iter=3).collect()
    }
    assert got == {1, 2}


def test_deterministic_walks_are_valid_and_reproducible(spark):
    from raptor_spark.operators.graph import deterministic_walks, symmetrize

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)], ["a", "b"]
    )
    rows = deterministic_walks(edges, walk_len=3).collect()
    walks: dict[int, dict[int, int]] = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    # one walk per vertex, each with steps 0..3, starting at its vertex
    assert set(walks) == {1, 2, 3, 4, 5}
    for wid, path in walks.items():
        assert sorted(path) == [0, 1, 2, 3]
        assert path[0] == wid
    # every hop is a real edge of the symmetrized graph
    sym = {(r["src"], r["dst"]) for r in symmetrize(edges).collect()}
    for path in walks.values():
        for s in range(3):
            assert (path[s], path[s + 1]) in sym
    # reproducible: a second run is byte-identical
    again = deterministic_walks(edges, walk_len=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_deterministic_walks_match_python_lcg(spark):
    # Replay the LCG argmin rule in plain Python on a hand graph.
    from raptor_spark.operators.graph import deterministic_walks

    edge_list = [(1, 2), (2, 3), (1, 3)]
    nbrs = {1: [2, 3], 2: [1, 3], 3: [1, 2]}
    want = {}
    for start in (1, 2, 3):
        cur = start
        want[(start, 0)] = cur
        for step in (1, 2):
            cur = min(
                nbrs[cur],
                key=lambda d: (
                    (1103515245 * d + 12345 * step + 31 * start) % 2147483647,
                    d,
                ),
            )
            want[(start, step)] = cur
    edges = spark.createDataFrame(edge_list, ["a", "b"])
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in deterministic_walks(edges, walk_len=2).collect()
    }
    assert got == want


def test_adamic_adar_known_graph_and_hub_cap(spark):
    """Square 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the only
    non-adjacent pairs, each with both square corners as common neighbors
    (degree 2) → aa = 2/ln(2). Adding hub 9 connected to everything makes
    every node's pairs adjacent to it — with max_hub_degree=3 the hub is
    excluded as a wedge CENTER (its 1/ln(8) wedges vanish) but scores are
    otherwise unchanged."""
    import math

    from raptor_spark.operators.graph import adamic_adar

    square = [(1, 2), (2, 3), (3, 4), (1, 4)]
    out = {
        (r.a, r.b): (r.common_neighbors, r.aa_score)
        for r in adamic_adar(spark.createDataFrame(square, ["a", "b"])).collect()
    }
    want = 2.0 / math.log(2.0)
    assert set(out) == {(1, 3), (2, 4)}
    assert out[(1, 3)][0] == 2 and abs(out[(1, 3)][1] - want) < 1e-9
    assert out[(2, 4)][0] == 2 and abs(out[(2, 4)][1] - want) < 1e-9

    hubbed = square + [(9, n) for n in (1, 2, 3, 4, 5, 6, 7, 8)]
    full = {
        (r.a, r.b): r.common_neighbors
        for r in adamic_adar(spark.createDataFrame(hubbed, ["a", "b"])).collect()
    }
    # hub wedges now connect e.g. (5, 6): common neighbor 9 only
    assert full[(5, 6)] == 1
    capped = {
        (r.a, r.b): (r.common_neighbors, r.aa_score)
        for r in adamic_adar(
            spark.createDataFrame(hubbed, ["a", "b"]), max_hub_degree=3
        ).collect()
    }
    # hub-centered wedges are gone; square-corner wedges survive with
    # degree now 3 (each corner gained the hub edge)
    assert (5, 6) not in capped
    assert abs(capped[(1, 3)][1] - 2.0 / math.log(3.0)) < 1e-9


def test_dag_layers_depth_and_fixed_round_cap(spark):
    """Diamond DAG 1→{2,3}→4 plus the shortcut 1→4: longest path wins
    (layer(4)=2); an isolated edge starts its own layer-0 source. Fixed-
    round contract: a 5-chain relaxed for only 2 rounds caps at layer 2
    (each round extends paths by one edge), exactly what the unrolled
    oracle computes."""
    from raptor_spark.operators.graph import dag_layers

    dag = [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4), (7, 8)]
    got = {
        r.id: r.layer
        for r in dag_layers(spark.createDataFrame(dag, ["a", "b"])).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 7: 0, 8: 1}

    chain = [(i, i + 1) for i in range(1, 5)]
    capped = {
        r.id: r.layer
        for r in dag_layers(
            spark.createDataFrame(chain, ["a", "b"]), n_rounds=2
        ).collect()
    }
    assert capped == {1: 0, 2: 1, 3: 2, 4: 2, 5: 2}


def test_assortativity_star_and_python_pearson(spark):
    """A star is perfectly disassortative (every edge joins the hub's
    degree to a leaf's degree → r = −1); a mixed graph must match a plain
    Python Pearson over the same directed endpoint-degree pairs."""
    from raptor_spark.operators.graph import assortativity

    star = [(1, 2), (1, 3), (1, 4)]
    row = assortativity(spark.createDataFrame(star, ["a", "b"])).collect()[0]
    assert row.n_edges == 6
    assert abs(row.r - (-1.0)) < 1e-12

    mixed = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)]
    deg: dict[int, int] = {}
    sym = set()
    for a, b in mixed:
        sym.add((a, b))
        sym.add((b, a))
    for s, _ in sym:
        deg[s] = deg.get(s, 0) + 1
    xs = [deg[s] for s, d in sorted(sym)]
    ys = [deg[d] for s, d in sorted(sym)]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    want = (m * sxy - sx * sy) / (
        ((m * sxx - sx * sx) ** 0.5) * ((m * syy - sy * sy) ** 0.5)
    )
    row = assortativity(spark.createDataFrame(mixed, ["a", "b"])).collect()[0]
    assert row.n_edges == m
    assert abs(row.r - want) < 1e-12

    # degree-regular graph (a 4-cycle): zero variance → NULL r
    cyc = [(1, 2), (2, 3), (3, 4), (4, 1)]
    row = assortativity(spark.createDataFrame(cyc, ["a", "b"])).collect()[0]
    assert row.r is None


@pytest.mark.parametrize("seed", [11, 22, 33])
def test_adamic_adar_matches_python_reference(spark, seed):
    """Random graphs vs a plain-Python Adamic-Adar: same non-adjacent pair
    set, same common-neighbor counts, scores to 1e-9 (sum order differs)."""
    import math
    import random
    from collections import defaultdict

    from raptor_spark.operators.graph import adamic_adar

    rng = random.Random(seed)
    n = 14
    edges = sorted(
        {
            (a, b)
            for _ in range(30)
            for a, b in [(rng.randint(1, n), rng.randint(1, n))]
            if a != b
        }
    )
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    want = {}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if b in adj[a]:
                continue
            common = adj[a] & adj[b]
            if common:
                want[(a, b)] = (
                    len(common),
                    sum(1.0 / math.log(len(adj[z])) for z in common),
                )
    got = {
        (r.a, r.b): (r.common_neighbors, r.aa_score)
        for r in adamic_adar(spark.createDataFrame(edges, ["a", "b"])).collect()
    }
    assert set(got) == set(want)
    for k, (cn, sc) in want.items():
        assert got[k][0] == cn and abs(got[k][1] - sc) < 1e-9, k


@pytest.mark.parametrize("seed", [7, 8])
def test_dag_layers_matches_python_dp(spark, seed):
    """Random low-id→high-id DAGs vs the ascending-order DP for longest-path
    depth (exact, n_rounds > any possible depth)."""
    import random

    from raptor_spark.operators.graph import dag_layers

    rng = random.Random(seed)
    n = 12
    edges = sorted(
        {
            tuple(sorted((a, b)))
            for _ in range(25)
            for a, b in [(rng.randint(1, n), rng.randint(1, n))]
            if a != b
        }
    )
    layer = {v: 0 for e in edges for v in e}
    for a, b in sorted(edges):  # a < b, ascending: DP order is topological
        layer[b] = max(layer[b], layer[a] + 1)
    got = {
        r.id: r.layer
        for r in dag_layers(
            spark.createDataFrame(edges, ["a", "b"]), n_rounds=15
        ).collect()
    }
    assert got == layer


def test_modularity_two_triangles_bridge(spark):
    # two triangles {0,1,2} and {3,4,5} joined by bridge 2-3: m=7,
    # intra=6, d_c = (2+2+3) = 7 each  →  Q = (4·7·6 − 2·49)/(4·49)
    #                                       = 70/196 = 0.35714285…
    from raptor_spark.operators.graph import modularity

    e = _edges(
        spark, [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    )
    comm = spark.createDataFrame(
        [(i, 0) for i in range(3)] + [(i, 1) for i in range(3, 6)],
        "id long, community long",
    )
    r = modularity(e, comm).collect()[0]
    assert (r.n_edges, r.n_communities, r.intra_edges) == (7, 2, 6)
    assert abs(r.modularity - 70.0 / 196.0) < 1e-12


def test_modularity_single_community_is_zero(spark):
    # everything in one community: Q = (4m·m − (2m)²)/(4m²) = 0 exactly
    from raptor_spark.operators.graph import modularity

    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)])
    comm = spark.createDataFrame(
        [(i, 42) for i in range(4)], "id long, community long"
    )
    r = modularity(e, comm).collect()[0]
    assert (r.n_edges, r.n_communities, r.intra_edges) == (5, 1, 5)
    assert r.modularity == 0.0


def test_modularity_partial_assignment_scores_covered_subgraph(spark):
    # drop vertex 5 from the assignment: its edges to 3 and 4 still count
    # in m and in the degrees of 3/4 (the graph is what it is), but no
    # community receives them as intra edges, and vertex 5 contributes no
    # degree mass to any d_c
    from raptor_spark.operators.graph import modularity

    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)])
    comm = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1)], "id long, community long"
    )
    r = modularity(e, comm).collect()[0]
    # m = 6; community 0: e_c=3, d_c=6; community 1: e_c=1, d_c=4
    # Q = (4·6·4 − (36+16))/(4·36) = (96−52)/144 = 44/144
    assert (r.n_edges, r.n_communities, r.intra_edges) == (6, 2, 4)
    assert abs(r.modularity - 44.0 / 144.0) < 1e-12


def _kruskal(pairs):
    """Pure-Python reference MSF under the total order (w, least, greatest)
    — the unique tie-broken MSF minimum_spanning_forest must reproduce."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    best = {}
    for a, b, w in pairs:
        if a == b:
            continue
        u, v = (a, b) if a < b else (b, a)
        if (u, v) not in best or w < best[(u, v)]:
            best[(u, v)] = w
    forest = set()
    for w, u, v in sorted((w, u, v) for (u, v), w in best.items()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            forest.add((u, v, w))
    return forest


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "a long, b long, w double")


def test_msf_hand_graph(spark):
    # square 0-1-2-3 with a cheap diagonal: MSF = the three cheapest
    # non-cycle edges under (w, u, v)
    from raptor_spark.operators.graph import minimum_spanning_forest

    e = _wedges(
        spark,
        [(0, 1, 1.0), (1, 2, 4.0), (2, 3, 2.0), (3, 0, 3.0), (0, 2, 2.5)],
    )
    got = {(r.a, r.b, r.w) for r in minimum_spanning_forest(e).collect()}
    assert got == {(0, 1, 1.0), (2, 3, 2.0), (0, 2, 2.5)}


def test_msf_tie_break_total_order(spark):
    # triangle with ALL-equal weights: the unique tie-broken MSF keeps the
    # two lexicographically smallest edges (0,1) and (0,2)
    from raptor_spark.operators.graph import minimum_spanning_forest

    e = _wedges(spark, [(1, 2, 5.0), (0, 2, 5.0), (0, 1, 5.0)])
    got = {(r.a, r.b) for r in minimum_spanning_forest(e).collect()}
    assert got == {(0, 1), (0, 2)}


def test_msf_parallel_edges_and_self_loops(spark):
    from raptor_spark.operators.graph import minimum_spanning_forest

    e = _wedges(
        spark,
        [(0, 1, 9.0), (1, 0, 2.0), (0, 1, 5.0), (1, 1, 0.1), (1, 2, 3.0)],
    )
    got = {(r.a, r.b, r.w) for r in minimum_spanning_forest(e).collect()}
    assert got == {(0, 1, 2.0), (1, 2, 3.0)}


def test_msf_disconnected_forest(spark):
    # two components → forest, one tree each; sizes n_i - 1
    from raptor_spark.operators.graph import minimum_spanning_forest

    e = _wedges(
        spark,
        [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 3.0), (10, 11, 1.0), (11, 12, 9.0)],
    )
    got = {(r.a, r.b, r.w) for r in minimum_spanning_forest(e).collect()}
    assert got == {(0, 1, 1.0), (1, 2, 2.0), (10, 11, 1.0), (11, 12, 9.0)}


def test_msf_long_chain_contraction(spark):
    # a path graph with weights increasing along the chain exercises DEEP
    # pointer-jump chains (every component's min edge points left, so round
    # 1 builds one long functional chain); the MSF of a tree is the tree
    from raptor_spark.operators.graph import minimum_spanning_forest

    n = 40
    e = _wedges(spark, [(i, i + 1, float(i + 1)) for i in range(n)])
    got = {(r.a, r.b, r.w) for r in minimum_spanning_forest(e).collect()}
    assert got == {(float(i), float(i + 1), float(i + 1)) for i in range(n)} or got == {
        (i, i + 1, float(i + 1)) for i in range(n)
    }


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_msf_matches_kruskal_random(spark, seed):
    # randomized parity vs the pure-Python Kruskal under the same total
    # order — deliberate weight ties (weights drawn from a small integer
    # set) force the tie-break to decide, and a sprinkle of parallel
    # edges/self-loops exercises the min-merge
    import random

    from raptor_spark.operators.graph import minimum_spanning_forest

    rng = random.Random(seed)
    n = 60
    pairs = []
    for _ in range(220):
        a, b = rng.randrange(n), rng.randrange(n)
        pairs.append((a, b, float(rng.randrange(1, 8))))
    got = {
        (r.a, r.b, r.w)
        for r in minimum_spanning_forest(_wedges(spark, pairs)).collect()
    }
    assert got == _kruskal(pairs)


def _py_closure(pairs):
    """DFS transitive closure reference (proper pairs, src != dst)."""
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
    out = set()
    for s in adj:
        stack, seen = list(adj[s]), set()
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            stack.extend(adj.get(x, ()))
        out |= {(s, d) for d in seen if d != s}
    return out


def test_closure_diamond(spark):
    from raptor_spark.operators.graph import transitive_closure

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    got = {(r.src, r.dst) for r in transitive_closure(e).collect()}
    assert got == {
        (0, 1), (0, 2), (0, 3), (0, 4),
        (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
    }


def test_closure_deep_chain_fixpoint(spark):
    # a 30-edge chain needs 5 doublings (2^5 = 32 ≥ 30); the fixpoint
    # early-exit must NOT stop before depth is covered
    from raptor_spark.operators.graph import transitive_closure

    n = 30
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a long, b long"
    )
    got = {(r.src, r.dst) for r in transitive_closure(e).collect()}
    assert got == {(i, j) for i in range(n + 1) for j in range(i + 1, n + 1)}


def test_closure_dedups_parallel_and_self_edges(spark):
    from raptor_spark.operators.graph import transitive_closure

    e = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 1), (1, 2)], "a long, b long"
    )
    got = {(r.src, r.dst) for r in transitive_closure(e).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}


@pytest.mark.parametrize("seed", [11, 47])
def test_closure_matches_dfs_random_dag(spark, seed):
    import random

    from raptor_spark.operators.graph import transitive_closure

    rng = random.Random(seed)
    pairs = []
    for _ in range(120):
        a, b = rng.randrange(50), rng.randrange(50)
        if a != b:
            pairs.append((min(a, b), max(a, b)))  # low→high keeps it a DAG
    e = spark.createDataFrame(pairs, "a long, b long")
    got = {(r.src, r.dst) for r in transitive_closure(e).collect()}
    assert got == _py_closure(pairs)


def test_landmark_distances_planted_path(spark):
    """Path 0-1-2-3-4 plus disconnected edge 7-8, landmarks {0, 7},
    max_hops=2: distances truncate at 2 hops, never cross components,
    and the hop counts are exact."""
    from raptor_spark.operators.graph import landmark_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (7, 8)], "a long, b long"
    )
    lms = spark.createDataFrame([(0,), (7,)], "id long")
    out = {(r.lm, r.id): r.dist for r in landmark_distances(
        edges.select(F.col("a"), F.col("b")), lms, max_hops=2
    ).collect()}
    assert out == {
        (0, 0): 0, (0, 1): 1, (0, 2): 2,
        (7, 7): 0, (7, 8): 1,
    }


def test_label_spreading_path_harmonic(spark):
    """Path 0-1-2 with clamped seeds score(0)=1, score(2)=0: the middle
    vertex averages its neighbors to exactly 0.5 and stays there; seeds
    stay clamped; a seed absent from the graph (99) is dropped."""
    from raptor_spark.operators.graph import label_spreading

    edges = spark.createDataFrame([(0, 1), (1, 2)], "a long, b long")
    seeds = spark.createDataFrame(
        [(0, 1.0), (2, 0.0), (99, 1.0)], "id long, label double"
    )
    out = {r.id: r.score for r in label_spreading(edges, seeds, n_iter=5).collect()}
    assert out == {0: 1.0, 1: 0.5, 2: 0.0}


def test_label_spreading_all_seeds_identity(spark):
    """Every vertex seeded -> clamp wins every round, output == seeds."""
    from raptor_spark.operators.graph import label_spreading

    edges = spark.createDataFrame([(0, 1), (1, 2)], "a long, b long")
    seeds = spark.createDataFrame(
        [(0, 1.0), (1, 0.0), (2, 1.0)], "id long, label double"
    )
    out = {r.id: r.score for r in label_spreading(edges, seeds, n_iter=3).collect()}
    assert out == {0: 1.0, 1: 0.0, 2: 1.0}


def test_ktruss_triangle_survives_pendants_drop(spark):
    """Triangle {1,2,3} + pendant (3,4) + path (5,6),(6,7) at k=3: only
    the triangle's edges sit in a triangle, everything else peels."""
    from raptor_spark.operators.graph import ktruss_edges

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6), (6, 7)], "a long, b long"
    )
    out = {(r.a, r.b) for r in ktruss_edges(edges, k=3).collect()}
    assert out == {(1, 2), (2, 3), (1, 3)}


def test_ktruss_cascading_removal(spark):
    """Square 1-2-3-4 with diagonal (1,3) at k=4: round 1 keeps only the
    diagonal (support 2), round 2 removes it too (its support collapsed
    with its neighbors) — the cascade k-core-style one-shot counting
    would miss."""
    from raptor_spark.operators.graph import ktruss_edges

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], "a long, b long"
    )
    out = ktruss_edges(edges, k=4).collect()
    assert out == []


def test_link_training_pairs_hand_lcg(spark):
    """Path 10-20-30: ranks {10:0, 20:1, 30:2}, |V|=3. Hand-replay of the
    congruential sampler: (10,20)→rc 2 gives negative (10,30); its second
    draw hits b (dropped); (20,30)'s draws hit b and reconstruct the
    positive (10,20) (anti-joined). Exactly one negative survives."""
    from raptor_spark.operators.graph import link_training_pairs

    edges = spark.createDataFrame([(10, 20), (20, 30)], "a long, b long")
    out = sorted(tuple(r) for r in link_training_pairs(edges).collect())
    assert out == [(10, 20, 1), (10, 30, 0), (20, 30, 1)]


def test_mis_independence_and_maximality_random_graph(spark):
    # Deterministic pseudo-random graph: independence (no edge inside the
    # set) and maximality (every non-member has a member neighbor) are the
    # defining properties; both must hold once the alive set empties.
    import random

    rng = random.Random(7)
    pairs = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    from raptor_spark.operators.graph import maximal_independent_set, symmetrize

    mis = {r.id for r in maximal_independent_set(e, max_rounds=16).collect()}
    sym = [(r.src, r.dst) for r in symmetrize(e).collect()]
    verts = {s for s, _ in sym}
    assert all(not (a in mis and b in mis) for a, b in sym), "not independent"
    nbrs = {}
    for s, d in sym:
        nbrs.setdefault(s, set()).add(d)
    for v in verts - mis:
        assert nbrs[v] & mis, f"vertex {v} has no MIS neighbor (not maximal)"


def test_mis_matches_python_greedy_replay(spark):
    # The operator is greedy MIS under the (priority, id) permutation —
    # a sequential scan in that order must produce the IDENTICAL set.
    import random

    rng = random.Random(11)
    pairs = list({(rng.randrange(30), rng.randrange(30)) for _ in range(80)})
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    from raptor_spark.operators.graph import (
        MIS_PRIORITY_MOD,
        MIS_PRIORITY_MULT,
        maximal_independent_set,
        symmetrize,
    )

    sym = [(r.src, r.dst) for r in symmetrize(e).collect()]
    verts = sorted({s for s, _ in sym})
    nbrs = {}
    for s, d in sym:
        nbrs.setdefault(s, set()).add(d)
    order = sorted(verts, key=lambda v: ((v % MIS_PRIORITY_MOD) * MIS_PRIORITY_MULT % MIS_PRIORITY_MOD, v))
    expect = set()
    for v in order:
        if not (nbrs[v] & expect):
            expect.add(v)
    got = {r.id for r in maximal_independent_set(e, max_rounds=16).collect()}
    assert got == expect


def test_mis_path_graph_rounds(spark):
    # Path 0-1-2-3-4: priorities are the LCG permutation; the local minima
    # go in round 1, the rest resolve by round 2 — and isolated vertices
    # (5,6 via their own component edge) behave as local minima trivially.
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)])
    from raptor_spark.operators.graph import maximal_independent_set

    out = {r.id: r.round for r in maximal_independent_set(e, max_rounds=8).collect()}
    # independence + maximality on the path
    mis = set(out)
    for a, b in [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)]:
        assert not (a in mis and b in mis)
    assert all(v in mis or ({v - 1, v + 1} & mis) for v in range(5))
    assert len({5, 6} & mis) == 1
    assert max(out.values()) <= 8


def test_mis_and_coloring_empty_graph_returns_empty_frame(spark):
    """ADVICE r3 (medium): on an empty edge set both operators returned
    None (picked/colored never assigned), so chained .select()/.orderBy()
    raised AttributeError. They now return an empty DataFrame with the
    output schema."""
    from raptor_spark.operators.graph import (
        greedy_coloring,
        maximal_independent_set,
    )

    e = spark.createDataFrame([], "a long, b long")
    mis = maximal_independent_set(e)
    assert mis.columns == ["id", "round"]
    assert mis.orderBy("id").select("id").count() == 0
    col = greedy_coloring(e)
    assert col.columns == ["id", "color"]
    assert col.orderBy("id").select("id").count() == 0


def test_greedy_coloring_proper_and_complete(spark):
    import random

    rng = random.Random(13)
    pairs = list({(rng.randrange(35), rng.randrange(35)) for _ in range(110)})
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    from raptor_spark.operators.graph import greedy_coloring, symmetrize

    colors = {r.id: r.color for r in greedy_coloring(e, max_rounds=30).collect()}
    sym = [(r.src, r.dst) for r in symmetrize(e).collect()]
    verts = {s for s, _ in sym}
    assert set(colors) == verts, "every vertex colored within the cap"
    assert all(colors[a] != colors[b] for a, b in sym), "proper coloring"


def test_greedy_coloring_matches_sequential_jones_plassmann(spark):
    # color(v) under JP with a fixed permutation = 1 + length of the
    # longest decreasing-priority path semantics; replay sequentially:
    # process vertices in priority order, assign round = 1 + max(round of
    # already-processed neighbors with smaller priority)... which is
    # exactly: round(v) = 1 + max(round(u) for u in nbrs if pr(u) < pr(v))
    import random

    rng = random.Random(5)
    pairs = list({(rng.randrange(25), rng.randrange(25)) for _ in range(60)})
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    from raptor_spark.operators.graph import (
        MIS_PRIORITY_MOD,
        MIS_PRIORITY_MULT,
        greedy_coloring,
        symmetrize,
    )

    sym = [(r.src, r.dst) for r in symmetrize(e).collect()]
    nbrs = {}
    for s, d in sym:
        nbrs.setdefault(s, set()).add(d)
    pr = lambda v: ((v % MIS_PRIORITY_MOD) * MIS_PRIORITY_MULT % MIS_PRIORITY_MOD, v)
    expect = {}
    for v in sorted(nbrs, key=pr):
        expect[v] = 1 + max(
            (expect[u] for u in nbrs[v] if pr(u) < pr(v)), default=0
        )
    got = {r.id: r.color for r in greedy_coloring(e, max_rounds=30).collect()}
    assert got == expect


def test_diameter_double_sweep_path_and_cycle(spark):
    from raptor_spark.operators.graph import diameter_double_sweep

    # path 0-1-2-3-4-5: start=0, first sweep reaches 5 (level 5), second
    # sweep from 5 reaches 0 at distance 5 = exact diameter
    e = _edges(spark, [(i, i + 1) for i in range(5)])
    r = diameter_double_sweep(e).collect()[0]
    assert (r.start, r.mid, r.diameter_lb) == (0, 5, 5)
    assert r.far == 0
    # 6-cycle: true diameter 3; double sweep from 0 finds level-3 vertex,
    # sweep back gives 3 (exact on cycles of even length)
    c = _edges(spark, [(i, (i + 1) % 6) for i in range(6)])
    r2 = diameter_double_sweep(c).collect()[0]
    assert r2.diameter_lb == 3


def test_diameter_double_sweep_empty_graph(spark):
    from raptor_spark.operators.graph import diameter_double_sweep

    e = _edges(spark, []).filter("a IS NOT NULL")
    assert diameter_double_sweep(e).collect() == []


def test_harmonic_centrality_hand_star_and_path(spark):
    from raptor_spark.operators.graph import harmonic_centrality

    # path 0-1-2-3-4 with landmarks {0, 4} (via mod filter in caller we
    # pass explicit landmarks here): C_H(2) from {0,4} = 1/2 + 1/2 = 1
    e = _edges(spark, [(i, i + 1) for i in range(4)])
    lms = spark.createDataFrame([(0,), (4,)], "id long")
    out = {r.id: r for r in harmonic_centrality(e, lms, max_hops=4).collect()}
    assert out[2].harmonic_x12 == 12 and out[2].harmonic == 1.0
    # vertex 1: d(0,1)=1, d(4,1)=3 -> 12 + 4 = 16
    assert out[1].harmonic_x12 == 16
    assert out[1].n_reached == 2
    # landmark 0 itself: self excluded, d(4,0)=4 -> 3
    assert out[0].harmonic_x12 == 3


def test_harmonic_centrality_matches_python_bfs(spark):
    import random
    from collections import deque
    from raptor_spark.operators.graph import harmonic_centrality, symmetrize

    rng = random.Random(17)
    pairs = list({(rng.randrange(30), rng.randrange(30)) for _ in range(70)})
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    sym = [(r.src, r.dst) for r in symmetrize(e).collect()]
    verts = sorted({s for s, _ in sym})
    nbrs = {}
    for s, d in sym:
        nbrs.setdefault(s, set()).add(d)
    lm_ids = [v for v in verts if v % 5 == 0]
    lms = spark.createDataFrame([(v,) for v in lm_ids], "id long")

    def bfs(src):
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] >= 4:
                continue
            for w in nbrs[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        return dist

    expect = {}
    for lm in lm_ids:
        for v, d in bfs(lm).items():
            if d > 0:
                n, h = expect.get(v, (0, 0))
                expect[v] = (n + 1, h + 12 // d)
    got = {r.id: (r.n_reached, r.harmonic_x12) for r in harmonic_centrality(e, lms, max_hops=4).collect()}
    assert got == expect


def test_hub_robustness_star_shatters_ring_holds(spark):
    from raptor_spark.operators.graph import hub_robustness

    # star: removing the hub (vertex 0) leaves no edges at all
    star = _edges(spark, [(0, i) for i in range(1, 8)])
    out = {r.k_removed: r for r in hub_robustness(star, removals=(0, 1)).collect()}
    assert out[0].largest_cc == 8 and out[0].n_components == 1
    assert out[1].n_vertices == 0 and out[1].largest_cc == 0

    # ring: removing any 2 vertices leaves one path (plus maybe a second)
    ring = _edges(spark, [(i, (i + 1) % 10) for i in range(10)])
    out2 = {r.k_removed: r for r in hub_robustness(ring, removals=(0, 2)).collect()}
    assert out2[0].largest_cc == 10
    # 8 surviving vertices stay largely connected (1 or 2 chains)
    assert out2[2].n_vertices == 8 and out2[2].n_components <= 2


def test_local_bridges_disjoint_from_truss_and_hand_graph(spark):
    from raptor_spark.operators.graph import ktruss_edges, local_bridges

    # triangle 1-2-3 plus pendant chain 3-4-5: the chain edges are
    # local bridges, the triangle edges are not
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    bridges = {(r.a, r.b) for r in local_bridges(e).collect()}
    assert bridges == {(3, 4), (4, 5)}
    truss = {(r.a, r.b) for r in ktruss_edges(e, k=3, max_rounds=6).collect()}
    assert bridges.isdisjoint(truss)
    assert truss == {(1, 2), (1, 3), (2, 3)}


def test_gap_percentiles_hand_series(spark):
    from raptor_spark.operators.profile import gap_percentiles
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # gaps in seconds: nine 1 s gaps and one 100 s gap -> p50 = 1000 ms,
    # p99 -> rank ceil(99*10/100)=10 -> 100000 ms
    ts = [t0]
    for gsec in [1] * 9 + [100]:
        ts.append(ts[-1] + dt.timedelta(seconds=gsec))
    rows = [("a", i, t) for i, t in enumerate(ts)]
    df = spark.createDataFrame(rows, "g string, eid long, ts timestamp")
    r = gap_percentiles(df, ["g"], "ts", "eid").collect()[0]
    assert r.n_gaps == 10
    assert (r.p50_ms, r.p90_ms, r.p99_ms) == (1000, 1000, 100000)
