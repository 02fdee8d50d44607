"""Correctness checks: each returns a list of problems, empty when correct."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame

from raptor_spark.functions import sha256_col
from raptor_spark.oracle import oracle_triples, triple_keys

NODE_COLS = ("id", "kind", "canonical", "lang", "repo_bucket", "n_mentions")
EDGE_COLS = ("src", "dst", "pred", "lang", "repo_bucket", "weight")
NEIGHBOR_COLS = ("pred", "id", "kind", "canonical")


def oracle_keys(rows: list[dict]) -> set[tuple[str, str, str]]:
    """(subj, pred, obj) set of the single-process reference extractor."""
    return triple_keys(oracle_triples(rows))


def check_triples(
    triples: DataFrame, files: DataFrame, expected: set[tuple[str, str, str]]
) -> list[str]:
    """A build's extracted triples against the oracle: the (subj, pred, obj)
    set must equal ``expected``, and every triple's sha256 must be
    sha2(content) of a file at its (repo, path)."""
    problems = []
    got = {
        (r.subj, r.pred, r.obj)
        for r in triples.select("subj", "pred", "obj").distinct().collect()
    }
    if got != expected:
        problems.append(
            f"triple set differs from oracle: {len(got - expected)} extra, "
            f"{len(expected - got)} missing"
        )
    key = ["repo", "path", "sha256"]
    file_keys = files.select("repo", "path", sha256_col("content").alias("sha256"))
    bad_sha = triples.select(*key).join(file_keys, on=key, how="left_anti").count()
    if bad_sha:
        problems.append(f"{bad_sha} triples carry a sha256 that is not sha2(content)")
    return problems


class GraphAnswers:
    """Driver-side answers to every lookup kind, from the committed graph
    collected once in set-up."""

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = [tuple(r) for r in nodes.select(*NODE_COLS).collect()]
        self._by_key = {(n[1], n[2]): n for n in self.nodes}
        self._by_id = {n[0]: n for n in self.nodes}
        self._out: dict[str, list[tuple]] = defaultdict(list)
        for e in edges.select(*EDGE_COLS).collect():
            self._out[e[0]].append(tuple(e))

    def sources(self) -> list[str]:
        """Node ids with at least one out-edge."""
        return [s for s in self._out if s in self._by_id]

    def expected(self, kind: str, node_id: str, node_kind: str, canonical: str) -> list[tuple]:
        if kind == "node":
            hit = self._by_key.get((node_kind, canonical))
            return [hit] if hit else []
        out = self._out.get(node_id, [])
        if kind == "out_edges":
            return list(out)
        return [
            (e[2], e[1], self._by_id[e[1]][1], self._by_id[e[1]][2])
            for e in out
            if e[1] in self._by_id
        ]


def check_rows(got: list, expected: list[tuple]) -> list[str]:
    """Rows a lookup returned against the driver-side answer, order-free."""
    rows = sorted((tuple(r) for r in got), key=repr)
    if rows != sorted(expected, key=repr):
        return [f"lookup returned {len(rows)} rows, expected {len(expected)}"
                + (" (same count, different values)" if len(rows) == len(expected) else "")]
    return []
