"""Reusable column-expression helpers (JVM-side, codegen-friendly).

These mirror pure-Python functions in ``raptor_spark.tokenize`` where both
sides must agree bit-for-bit: ``norm_identifier_col`` and ``shingles_col``
build link's name table, and tests/test_functions.py pins them against
``normalize_identifier`` and ``char_shingles`` over Unicode identifiers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from raptor_spark.schemas import N_REPO_BUCKETS


def sha256_col(c: Column | str) -> Column:
    """sha256 of the utf-8 content, null as "": the build's one content hash,
    which the tests pin against its Python reference in ``tokenize``."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sha2(F.coalesce(c, F.lit("")), 256)


def norm_identifier_col(c: Column | str) -> Column:
    """JVM-side replica of tokenize.normalize_identifier:
    camel/Pascal/snake/kebab → lowercase space-separated tokens."""
    c = F.col(c) if isinstance(c, str) else c
    s = F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1 $2")
    s = F.regexp_replace(s, r"([A-Z]+)([A-Z][a-z])", r"$1 $2")
    s = F.regexp_replace(s, r"[_\-]+", " ")
    s = F.lower(F.trim(s))
    return F.regexp_replace(s, r"\s+", " ")


def shingles_col(c: Column | str, k: int = 3) -> Column:
    """JVM-side replica of tokenize.char_shingles, as a sorted distinct
    array<string>. Lengths and substrings count code points on both sides."""
    c = F.col(c) if isinstance(c, str) else c

    def grams(p: Column) -> Column:
        n = F.length(p)
        return F.when(n <= k, F.array(p)).otherwise(
            F.transform(F.sequence(F.lit(1), n - (k - 1)), lambda i: F.substring(p, i, k))
        )

    padded = F.concat(F.lit("^"), c, F.lit("$"))
    return F.array_sort(F.array_distinct(bind_col(padded, grams)))


def repo_bucket_col(c: Column | str, n: int = N_REPO_BUCKETS) -> Column:
    """Deterministic bucket for partition spec (≙ Iceberg bucket transform)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.pmod(F.xxhash64(c), F.lit(n)).cast("int")


def node_id_col(kind: Column | str, canonical: Column | str) -> Column:
    """Stable node id = sha2(kind || ':' || canonical) (FIXTURES.md §2)."""
    kind = F.lit(kind) if isinstance(kind, str) else kind
    canonical = F.col(canonical) if isinstance(canonical, str) else canonical
    return F.sha2(F.concat_ws(":", kind, canonical), 256)


def bind_col(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE per row and feed it to ``fn`` as a lambda
    variable. Higher-order-function lambdas get no common-subexpression
    elimination, so inlining an expensive expression (a regex split, a
    shingle array) into a lambda body re-evaluates it at EVERY reference —
    measured 16× on the shingling hot path (see
    operators/dedup.word_shingles_col). ``transform`` over a one-element
    array evaluates its input a single time."""
    return F.element_at(F.transform(F.array(col), fn), 1)
