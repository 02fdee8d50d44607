from __future__ import annotations

from perfbench import gen
from raptor_spark.oracle import oracle_triples
from raptor_spark.tokenize import PRED_CALLS, PRED_DEFINES, PRED_IMPORTS


def test_corpus_is_deterministic_per_seed():
    a = gen.corpus_rows(7, 40, pad_bytes=(2_000, 4_000))
    b = gen.corpus_rows(7, 40, pad_bytes=(2_000, 4_000))
    c = gen.corpus_rows(8, 40, pad_bytes=(2_000, 4_000))
    assert a == b
    assert a != c


def test_padding_adds_bytes_but_no_code():
    plain = gen.corpus_rows(3, 40, skew_share=0.0)
    padded = gen.corpus_rows(3, 40, pad_bytes=(2_000, 4_000), skew_share=0.0)
    assert all(
        len(p["content"]) >= len(q["content"]) + 2_000
        for p, q in zip(padded[:40], plain[:40])
    )

    def code(rows):
        # names without their @line: padding shifts lines, nothing else
        return {
            (t[1], t[2].split("@")[0], t[3], t[4])
            for t in oracle_triples(rows)
            if t[1] in (PRED_DEFINES, PRED_IMPORTS, PRED_CALLS)
        }

    assert code(padded) == code(plain)


def test_skew_probe_share():
    rows = gen.corpus_rows(5, 400, skew_share=0.5)
    probed = sum(r["content"].endswith(gen.SKEW_PROBE) for r in rows[:400])
    assert 120 < probed < 280
    assert not any(r["content"].endswith(gen.SKEW_PROBE) for r in rows[400:])


def test_lookup_mix_is_deterministic_and_skewed():
    nodes = [(f"id{i}", "symbol", f"name {i}") for i in range(500)]
    sources = [f"id{i}" for i in range(0, 500, 2)]
    a = gen.lookup_mix(1, nodes, sources, 300)
    assert a == gen.lookup_mix(1, nodes, sources, 300)
    assert a != gen.lookup_mix(2, nodes, sources, 300)
    # every request: one lookup per kind, only the node lookup cached
    assert all([lk.kind for lk in r] == list(gen.QUERY_KINDS) for r in a)
    assert all([lk.cached for lk in r] == [True, False, False] for r in a)
    assert all(lk.node_id in sources for r in a for lk in r[1:])
    # Zipf: the hottest key is drawn far more often than a uniform draw
    ids = [r[0].node_id for r in a]
    hottest = next(r[0].node_id for r in a if r[0].rank == 0)
    assert ids.count(hottest) > 20 * len(ids) / len(nodes)
