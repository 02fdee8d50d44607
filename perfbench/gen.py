"""Seeded workload inputs: corpus rows, padding, skew probe, lookup mix.

Everything a run feeds the program is derived here from ``--seed`` alone, so
the same seed gives byte-identical inputs. The program itself only ever sees
the parquet files table written from these rows.
"""

from __future__ import annotations

import bisect
import random
from dataclasses import dataclass
from itertools import accumulate

from BENCH.gen_corpus import SKEW_PROBE
from raptor_spark.synth import FILLER_WORDS, generate_corpus

# build_bulk: few files padded to realistic source sizes (tens of KB). A
# session's first build of them is carried by per-job, commit and read-back
# costs; extract and the input sha roll-up are ~1/6 of it, so their changes
# show in the per-layer extract.* and lineage.rollup_s metrics
BULK_FILES = 400
BULK_PAD_BYTES = (20_000, 60_000)
# serve_lookup: the graph a lookup server holds (~170 nodes). Sized so its
# set-up build fits the run's time; a lookup's cost (~1-2 s on 4 cores) is
# set by the tables' (lang, repo_bucket) partition directories it lists and
# reads, which grow slowly with the graph
SERVE_FILES = 40
# Share of files carrying the head-symbol skew probe: the share the repo's own
# deliberate-skew gate uses (BENCH/run_scaling.sh, linkskew mode). A stress
# setting for the link/cc guards, not a measured property of real code.
SKEW_SHARE = 0.3
# Key popularity exponent: the Zipfian constant 0.99 that YCSB draws point
# lookups with by default (Cooper et al., "Benchmarking Cloud Serving Systems
# with YCSB", SoCC 2010). An assumption for code-graph lookups, for which no
# public measurement of key popularity is known; over this graph's ~170 node
# keys the top key is ~1/6 of the draws.
ZIPF_S = 0.99
QUERY_KINDS = ("node", "out_edges", "neighbors")


def _pad_block(rng: random.Random, n_bytes: int) -> str:
    """Comment lines of filler words: bytes for every per-byte pass, but no
    new imports, definitions, calls or concept-lexicon terms."""
    lines: list[str] = []
    size = 0
    while size < n_bytes:
        line = "# " + " ".join(rng.choices(FILLER_WORDS, k=10))
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines)


def corpus_rows(
    seed: int,
    n_files: int,
    pad_bytes: tuple[int, int] | None = None,
    skew_share: float = SKEW_SHARE,
) -> list[dict]:
    """``generate_corpus(n_files, seed)`` rows (with its fixed edge-case rows),
    each generated file optionally prefixed by a padding comment block and,
    for a seeded ``skew_share`` of them, suffixed by the skew probe."""
    rows = generate_corpus(n_files, seed=seed)
    rng = random.Random(f"perfbench-corpus-{seed}")
    if pad_bytes is not None:
        # evenly spread sizes in a seeded order: every seed pads the same
        # total, so seeds differ in content, not in the amount of work
        lo, hi = pad_bytes
        sizes = [lo + (hi - lo) * i // max(1, n_files - 1) for i in range(n_files)]
        rng.shuffle(sizes)
        for row, size in zip(rows, sizes):  # the edge-case rows stay as generated
            row["content"] = _pad_block(rng, size) + "\n" + row["content"]
    for row in rows[:n_files]:
        if rng.random() < skew_share:
            row["content"] += SKEW_PROBE
    return rows


@dataclass(frozen=True)
class Lookup:
    kind: str  # one of QUERY_KINDS
    node_id: str
    node_kind: str
    canonical: str
    rank: int  # popularity rank of the key among its kind's keys
    cached: bool  # routed through QueryCache.get_or_compute


def _zipf_order(rng: random.Random, keys: list) -> tuple[list, list[float]]:
    """Keys in a seeded popularity order, with cumulative Zipf weights."""
    order = sorted(keys)
    rng.shuffle(order)
    return order, list(
        accumulate(1.0 / (rank + 1) ** ZIPF_S for rank in range(len(order)))
    )


def lookup_mix(
    seed: int,
    nodes: list[tuple[str, str, str]],
    sources: list[str],
    n: int,
) -> list[tuple[Lookup, ...]]:
    """``n`` requests over the committed graph, each one lookup of every
    query kind with its own Zipf-skewed key: node lookups over all
    ``(id, kind, canonical)`` nodes, edge lookups over ``sources``, the ids
    with out-edges. The node lookup goes through the query cache, so its
    popular keys hit; the edge lookups read the tables directly. Every
    request has the same mix, so request latencies are comparable."""
    rng = random.Random(f"perfbench-lookups-{seed}")
    by_id = {n_id: (kind, canon) for n_id, kind, canon in nodes}
    node_keys, node_w = _zipf_order(rng, list(by_id))
    src_keys, src_w = _zipf_order(rng, sources)

    def draw(kind: str) -> Lookup:
        keys, weights = (node_keys, node_w) if kind == "node" else (src_keys, src_w)
        rank = min(bisect.bisect_left(weights, rng.random() * weights[-1]), len(keys) - 1)
        return Lookup(kind, keys[rank], *by_id[keys[rank]], rank, kind == "node")

    return [tuple(draw(kind) for kind in QUERY_KINDS) for _ in range(n)]
