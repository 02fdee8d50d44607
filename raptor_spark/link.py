"""Stage 2: entity linking — MinHash/LSH blocking + candidate-pair join +
Jaccard verify, as DataFrame ops or, for a name set within a driver cap, in
one driver step.

Spark-first re-expression of the reference's ANN insert-dedup (batch-query new
vectors, link iff cosine ≥ 0.9 — raptor/qdrant_search_docker/api_insert.py:14,
130-165) for symbol mentions, with the link rule defined once in
``raptor_spark.oracle.should_link`` and decomposed here into distributed form:

1. exact block: names sharing the space-stripped normalized identifier link
   unconditionally (covers camel/snake/Pascal aliases AND head symbols like
   ``main`` — heads only ever link exactly; skew guard per SURVEY.md §7.4).
2. fuzzy block: non-head names → char-3-gram shingles → 32 MinHash values
   (xxhash64) → 8 bands × 4 rows → candidates from per-bucket
   ``collect_list`` pair expansion keyed on (first_token, band_id,
   band_hash), with oversize buckets dropped (MAX_BAND_BUCKET skew guard)
   → verify with exact Jaccard via ``array_intersect``/``array_union``
   sizes (JVM-side, no UDF).

The bucket key includes the normalized FIRST TOKEN, which both enforces the
prefix-block rule and spreads band buckets. Head-symbol names (document
frequency over repos > 50%) are excluded from fuzzy blocking entirely, so
``main``/``utils`` can never form a giant LSH bucket, and the bucket cap
bounds every candidate expansion at C(64,2) pairs.

Scale notes: everything is per-distinct-NAME, not per-mention — the name
dimension is orders of magnitude smaller than the triple table (719 names
for a 400-file build). ``name_features`` builds the name table, normalized
names, hashed shingles and band hashes, in JVM expressions (this stage runs
no Python UDF), and both paths read it, so they share every hash value:

* driver path (names ≤ the driver-memory-scaled DRIVER_LINK_MAX_NAMES):
  one capped collect of the name table, then the exact block, band
  buckets and Jaccard verify in driver dicts. No shuffle.
* distributed path (above the cap): the exact block is a self-join on
  ``nospace``; the fuzzy block is one bucket groupBy of (name, hsh, band)
  rows with the pair expansion and Jaccard verify fused into the bucket
  expression, then one distinct of the verified pairs and one of the
  union.

The caller persists ``name_features`` and hands it to ``link_edges`` and
to ``canonical_mapping``, whose ``(name, component, canonical)`` rows over
every featurized name are the pipeline's committed ``components`` table.
The mapping is one lazy expression at every size (a join and a window
min), so only ``link_edges`` and ``cc.connected_components`` pick a path.
"""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from raptor_spark.cc import driver_collect
from raptor_spark.functions import norm_identifier_col, shingles_col
from raptor_spark.oracle import HEAD_SYMBOL_MAX_DF, JACCARD_THRESHOLD
from raptor_spark.tokenize import PRED_CALLS, PRED_DEFINES

N_MINHASH = 32
N_BANDS = 8  # 4 rows per band: P(candidate) = 1-(1-j^4)^8 ≈ .95 at j=.75 and
#              ≈ .999 at j=.85 (real alias pairs sit ≥ .85; exact-normalized
#              aliases bypass LSH entirely via the nospace block). 2-row bands
#              were recall-heavier but fired at j≈.33 too (P≈.9), which made
#              the ubiquitous shared-first-token names (helper_*) pairwise
#              candidates — a quadratic flood measured at >15 min for 10k
#              files. 4-row bands drop P(j=.33) to ≈.09.
MAX_BAND_BUCKET = 64  # skew guard: an LSH bucket bigger than this means the
#              band hash carries no information for that name cluster — drop
#              the bucket (members keep their other N_BANDS-1 chances, and
#              true alias pairs are still covered by the exact nospace block)

DRIVER_LINK_MAX_NAMES = 160_000  # ≤ this many featurized names → link on
# the driver (sized for an 8g driver and scaled down with spark.driver.memory
# like cc.DRIVER_CC_MAX_EDGES: 40k names at 2g). Driver memory sets the cap:
# the link step may hold what cc's driver step holds at its own cap.
# Measured in the driver process as the collected pandas frame plus the
# step's tracemalloc peak: the link step takes 3.6 KB per name at 25k names
# and 3.8 KB at 100k; the cc step 312 B per raw edge row at 250k and 1M
# rows. cc's 8g cap of 2M raw rows is ~620 MB, which holds ~160k names.
# Time does not bind below the cap on 4 cores. link_edges over persisted
# features, local[4], 8g, two reps each:
#   names   driver       distributed
#     40k   3.3–4.4 s    3.9–8.4 s
#    160k   9.6–10.5 s   11.5–12.5 s
# The driver step is serial; the distributed path gains with cores and may
# win below the cap on more than 4 cores (not measured). build_bulk (719
# names, 2g driver) and bench.py's kg_pipeline (16k names) take the driver
# path. BENCH/run_scaling.sh over 30k files (47.6k names) takes the driver
# path at its 8g default and the distributed path with SCALING_DRIVER_MEM=2g.

_EDGE_SCHEMA = StructType(
    [StructField("a", StringType(), False), StructField("b", StringType(), False)]
)


def name_features(triples: DataFrame) -> DataFrame:
    """The name table ``link_edges`` AND ``canonical_mapping`` read: one row
    per distinct defined name, ``(name, is_head, norm, nospace,
    first_token, hsh, band_hashes)``, all JVM expressions.

    One groupBy shuffle on the name dimension replaces the old
    distinct → groupBy → distinct chain (three shuffles), and the
    head-threshold denominator (count of distinct repos in ``triples``,
    defining a name or not, as ``oracle._head_names`` counts them) is a
    one-row aggregate broadcast back in — lazy, instead of an eager driver
    ``count()`` before any linking work could start. The caller persists
    it and hands it to both consumers, so the name distinct, the
    normalization and the signatures run once.

    ``norm`` and the shingles are the JVM replicas of
    ``tokenize.normalize_identifier``/``char_shingles``. ``hsh`` is the
    hashed shingle set (array<long>): Jaccard over 64-bit shingle hashes
    equals Jaccard over the strings up to ~2^-64 collisions, and longs
    shuffle + intersect several times cheaper than strings.
    ``band_hashes[b]`` hashes MinHash rows ``b*4 .. b*4+3``. Each step is
    its own projection: a column referenced many times above it is not
    inlined there (CollapseProject keeps it), so ``norm`` and the shingle
    array are computed once per name, not once per MinHash.
    """
    names_repo = triples.filter(F.col("pred") == PRED_DEFINES).select(
        # coalesce keeps the name column non-null, as the committed
        # components schema records it; a defined obj is never null
        F.coalesce(F.substring_index("obj", "@", 1), F.lit("")).alias("name"),
        F.col("repo"),
    )
    per_name = names_repo.groupBy("name").agg(
        F.countDistinct("repo").alias("df_repos")
    )
    total = triples.agg(F.countDistinct("repo").alias("total_repos"))
    flagged = per_name.join(F.broadcast(total), how="cross").select(
        "name",
        (
            F.col("df_repos") > F.lit(HEAD_SYMBOL_MAX_DF) * F.col("total_repos")
        ).alias("is_head"),
        norm_identifier_col("name").alias("norm"),
    )
    norm = F.col("norm")
    shingled = flagged.select(
        "name",
        "is_head",
        "norm",
        F.replace(norm, F.lit(" "), F.lit("")).alias("nospace"),
        F.split(norm, " ").getItem(0).alias("first_token"),
        shingles_col(norm).alias("shingles"),
    )
    rows_per_band = N_MINHASH // N_BANDS
    mins = [
        F.array_min(F.transform("shingles", _minhash(i))) for i in range(N_MINHASH)
    ]
    return shingled.select(
        "name",
        "is_head",
        "norm",
        "nospace",
        "first_token",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("hsh"),
        F.array(
            *[
                F.xxhash64(*mins[b * rows_per_band : (b + 1) * rows_per_band])
                for b in range(N_BANDS)
            ]
        ).alias("band_hashes"),
    )


def _minhash(seed: int):
    # NB: a two-arg transform lambda would receive (element, array_index)
    # and silently shadow the seed — keep this a one-arg closure
    return lambda s: F.xxhash64(s, F.lit(seed))


def _driver_link_pairs(feats: pd.DataFrame) -> list[tuple[str, str]]:
    """The (a, b) edges of ``_distributed_link_edges`` over the collected
    ``name_features`` rows: the same blocks, bucket cap and verify, in
    driver dicts. Names compare in code-point order, which is Spark's
    UTF-8 byte order."""
    by_nospace: dict[str, list[str]] = defaultdict(list)
    for name, nospace in zip(feats["name"], feats["nospace"]):
        by_nospace[nospace].append(name)
    pairs = {p for names in by_nospace.values() for p in combinations(sorted(names), 2)}

    # in name order, so a bucket's member indices (appended in index order)
    # are its array_sort order and x < y means names[x] < names[y]
    fuzzy = feats[~feats["is_head"].to_numpy(dtype=bool)].sort_values("name")
    names = fuzzy["name"].tolist()
    nospace = fuzzy["nospace"].tolist()
    hsh = [set(h.tolist()) for h in fuzzy["hsh"]]
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for i, (first_token, bands) in enumerate(
        zip(fuzzy["first_token"], fuzzy["band_hashes"])
    ):
        for band_id, band_hash in enumerate(bands.tolist()):
            buckets[(first_token, band_id, band_hash)].append(i)
    n = len(names)
    checked: set[int] = set()  # x * n + y of pairs seen in an earlier bucket
    for members in buckets.values():
        if not 2 <= len(members) <= MAX_BAND_BUCKET:
            continue
        for x, y in combinations(members, 2):
            key = x * n + y
            if key in checked:
                continue
            checked.add(key)
            if nospace[x] == nospace[y]:
                continue
            inter = len(hsh[x] & hsh[y])
            if inter / (len(hsh[x]) + len(hsh[y]) - inter) >= JACCARD_THRESHOLD:
                pairs.add((names[x], names[y]))
    return sorted(pairs)


def link_edges(feats: DataFrame) -> DataFrame:
    """(a, b) undirected link edges between the names of ``feats``, a < b.

    ``feats`` is a ``name_features`` table, persisted by the caller, which
    hands the same table to ``canonical_mapping``.

    Up to the name cap (DRIVER_LINK_MAX_NAMES, scaled by spark.driver.memory)
    one capped collect ships the name table, whose rows are blocked,
    bucketed and verified on the driver; above it the distributed path
    runs over the same table, so no signature is computed twice. Both give
    the same edge set (parity-pinned in tests/test_linking.py).
    """
    rows = driver_collect(feats, DRIVER_LINK_MAX_NAMES)
    if rows is None:
        return _distributed_link_edges(feats)
    return feats.sparkSession.createDataFrame(
        pd.DataFrame(_driver_link_pairs(rows), columns=["a", "b"], dtype=object),
        _EDGE_SCHEMA,
    )


def _distributed_link_edges(feats: DataFrame) -> DataFrame:
    # -- 1. exact block: same space-stripped normalized identifier ----------
    exact = (
        feats.alias("a")
        .join(feats.alias("b"), on="nospace")
        .filter(F.col("a.name") < F.col("b.name"))
        .select(F.col("a.name").alias("a"), F.col("b.name").alias("b"))
    )

    # -- 2. fuzzy block: LSH band rows of the non-head names -----------------
    # _outer: band_hashes is never null or empty, so the rows are the same,
    # but a plain posexplode makes the optimizer infer a size(band_hashes) > 0
    # filter and push it below the projection, which then computes all 32
    # MinHashes twice (1.7× the signature stage, measured at local[1])
    bands = feats.filter(~F.col("is_head")).select(
        "name",
        "first_token",
        "nospace",
        "hsh",
        F.posexplode_outer("band_hashes").alias("band_id", "band_hash"),
    )

    # -- 2b + 3 fused: capped-bucket collect_list expansion with the Jaccard
    # verify INLINE. One shuffle of (name, hsh, band) rows; pairs are
    # expanded AND verified inside the bucket expression, so only surviving
    # pairs ever become rows. The previous shape shuffled every candidate
    # pair through a distinct and then two wide shingle-array joins —
    # measured 23 s of a 38 s stage at 100k files on 4M candidates; this
    # emits only the ~30k verified rows into the final distinct. Buckets are
    # bounded by MAX_BAND_BUCKET, so inline work is ≤ C(64,2) jaccards per
    # bucket; re-verifying a pair that collides in several bands costs far
    # less than one per-candidate shuffle row did.
    buckets = (
        bands.groupBy("first_token", "band_id", "band_hash")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("name"), F.col("nospace"), F.col("hsh"))
                )
            ).alias("ms")
        )
        .filter((F.size("ms") >= 2) & (F.size("ms") <= MAX_BAND_BUCKET))
    )
    ms = F.col("ms")

    def _jac(x, y):
        return F.size(F.array_intersect(x["hsh"], y["hsh"])) / F.size(
            F.array_union(x["hsh"], y["hsh"])
        )

    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(ms, i + F.lit(2), F.size(ms)),
                    lambda y: F.struct(
                        x["name"].alias("a"), y["name"].alias("b"),
                        x["nospace"].alias("na"), y["nospace"].alias("nb"),
                        _jac(x, y).alias("jac"),
                    ),
                ),
                # space-stripped equals are already linked exactly; skip
                # re-verify — and only verified pairs become rows at all
                lambda p: (p["na"] != p["nb"])
                & (p["jac"] >= F.lit(JACCARD_THRESHOLD)),
            ),
        )
    )
    verified = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )

    return exact.unionByName(verified).distinct()


def canonical_mapping(feats: DataFrame, components: DataFrame) -> DataFrame:
    """(name, component, canonical) for every name of ``feats``, where
    canonical = min normalized name within the component (matches the
    oracle). ``components`` is (name, component) from raptor_spark.cc; a
    name in none is its own component, so its canonical is its own norm.
    ``feats`` is the ``name_features`` table ``link_edges`` read.

    One lazy expression at every size: a left join of the names to their
    components, then the min ``norm`` over a window per component."""
    with_comp = feats.join(components, on="name", how="left").select(
        "name", F.coalesce(F.col("component"), F.col("name")).alias("component"), "norm"
    )
    return with_comp.select(
        "name",
        "component",
        F.min("norm").over(Window.partitionBy("component")).alias("canonical"),
    )


def apply_linking(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Stage-2 output: triples + subj_canonical/obj_canonical columns, looked
    up by name in ``mapping`` (the ``canonical_mapping`` rows).

    * file-defines-symbol: obj_canonical = canonical of the defined name.
    * symbol-calls-symbol: subj_canonical = canonical of the enclosing def;
      obj_canonical = canonical of the callee if it is a defined name anywhere,
      else its own normalized spelling.
    * other predicates: nulls.

    One pass: each triple gets a subject key (the caller, for calls) and an
    object key (the callee, or the defined name), and two left joins against
    the one broadcast mapping look both up; a null key matches nothing. The
    mapping table is tiny relative to triples → no shuffle of the triple
    table.
    """
    m = F.broadcast(mapping)
    is_call = F.col("pred") == PRED_CALLS
    keyed = triples.select(
        "*",
        F.when(is_call, F.element_at(F.split(F.col("subj"), ":"), -1)).alias("_subj_key"),
        F.when(is_call, F.col("obj"))
        .when(F.col("pred") == PRED_DEFINES, F.split(F.col("obj"), "@").getItem(0))
        .alias("_obj_key"),
    )
    return (
        keyed.join(
            m.select(F.col("name").alias("_subj_key"), F.col("canonical").alias("subj_canonical")),
            on="_subj_key",
            how="left",
        )
        .join(
            m.select(F.col("name").alias("_obj_key"), F.col("canonical").alias("_obj_canonical")),
            on="_obj_key",
            how="left",
        )
        .select(
            *triples.columns,
            # callee never defined anywhere → canonicalize by normalization alone
            F.when(is_call, F.coalesce(F.col("_obj_canonical"), norm_identifier_col("obj")))
            .otherwise(F.col("_obj_canonical"))
            .alias("obj_canonical"),
            "subj_canonical",
        )
    )
