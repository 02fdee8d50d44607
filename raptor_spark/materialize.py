"""Stage 4: materialize the graph as partitioned nodes/edges tables.

Analog of the reference's Qdrant upsert sink (api_insert.py:88-171: group by
payload.type → one collection per kind → upsert) re-expressed relationally:
one UNION'd nodes table with a ``kind`` column, one edges table, both
partitioned by ``(lang, repo_bucket)`` — the partition columns play the role
of Qdrant's keyword payload indexes
(api_document_search_with_cache.py:95-120).

Node identity is content-derived (sha2 of kind:canonical) — never
monotonically_increasing_id — so materialization is deterministic under any
partitioning (SURVEY.md §7.4 risk 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from raptor_spark.functions import node_id_col, repo_bucket_col
from raptor_spark.tokenize import (
    PRED_CALLS,
    PRED_CONCEPT,
    PRED_CONTAINS,
    PRED_DEFINES,
    PRED_IMPORTS,
)

# pred → (subj node kind, obj node kind)
_PRED_KINDS = {
    PRED_CONTAINS: ("repo", "file"),
    PRED_IMPORTS: ("file", "module"),
    PRED_DEFINES: ("file", "symbol"),
    PRED_CALLS: ("symbol", "symbol"),
    PRED_CONCEPT: ("file", "concept"),
}


def _endpoints() -> tuple[Column, Column, Column, Column]:
    """(subj kind, subj canonical, obj kind, obj canonical) of a linked triple
    whose pred is in ``_PRED_KINDS`` — the one definition of a node's key
    that nodes and edges share.

    Canonical strings per kind:
      repo    → repo name
      file    → "repo:path"
      module  → imported module string
      symbol  → linked canonical (subj_canonical/obj_canonical)
      concept → concept name
    """
    pred, repo = F.col("pred"), F.col("repo")
    file = F.concat_ws(":", repo, F.col("path"))
    subj_canon = (
        F.when(pred == PRED_CONTAINS, repo)
        .when(pred == PRED_CALLS, F.coalesce(F.col("subj_canonical"), F.col("subj")))
        .otherwise(file)
    )
    obj_canon = (
        F.when(pred == PRED_CONTAINS, file)
        .when(
            pred.isin(PRED_DEFINES, PRED_CALLS),
            F.coalesce(F.col("obj_canonical"), F.col("obj")),
        )
        .otherwise(F.col("obj"))
    )
    kind_map = F.create_map(
        *[x for p, (sk, ok) in _PRED_KINDS.items() for x in (F.lit(p), F.lit(f"{sk}|{ok}"))]
    )
    kinds = F.split(kind_map[pred], r"\|")
    return kinds.getItem(0), subj_canon, kinds.getItem(1), obj_canon


def build_nodes(linked: DataFrame) -> DataFrame:
    """nodes(id, kind, canonical, lang, repo_bucket, n_mentions)."""
    subj_kind, subj_canon, obj_kind, obj_canon = _endpoints()
    mentions = linked.filter(F.col("pred").isin(*_PRED_KINDS)).select(
        F.explode(
            F.array(
                F.struct(subj_kind.alias("kind"), subj_canon.alias("canonical")),
                F.struct(obj_kind.alias("kind"), obj_canon.alias("canonical")),
            )
        ).alias("m"),
        "lang",
    ).select("m.kind", "m.canonical", "lang")
    return (
        mentions.groupBy("kind", "canonical")
        .agg(F.count("*").alias("n_mentions"), F.min("lang").alias("lang"))
        .select(
            node_id_col(F.col("kind"), F.col("canonical")).alias("id"),
            "kind",
            "canonical",
            "lang",
            repo_bucket_col("canonical").alias("repo_bucket"),
            F.col("n_mentions").cast("long"),
        )
    )


def build_edges(linked: DataFrame) -> DataFrame:
    """edges(src, dst, pred, lang, repo_bucket, weight) — weight = number of
    mention rows collapsing onto the canonical (src, dst, pred)."""
    subj_kind, subj_canon, obj_kind, obj_canon = _endpoints()
    pairs = linked.filter(F.col("pred").isin(*_PRED_KINDS)).select(
        node_id_col(subj_kind, subj_canon).alias("src"),
        node_id_col(obj_kind, obj_canon).alias("dst"),
        "pred",
        "lang",
    )
    return (
        pairs.groupBy("src", "dst", "pred")
        .agg(F.count("*").alias("weight"), F.min("lang").alias("lang"))
        .select(
            "src",
            "dst",
            "pred",
            "lang",
            repo_bucket_col("src").alias("repo_bucket"),
            F.col("weight").cast("long"),
        )
    )
