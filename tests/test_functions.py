"""JVM-side column helpers must agree bit-for-bit with the Python versions."""

from __future__ import annotations

import random
import re

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from raptor_spark.functions import norm_identifier_col, sha256_col, shingles_col
from raptor_spark.link import name_features
from raptor_spark.tokenize import (
    PRED_DEFINES,
    char_shingles,
    jaccard,
    normalize_identifier,
    sha256_hex,
)

IDENTIFIERS = [
    "fooBar", "foo_bar", "FooBar", "FOOBar", "foo-bar", "parseHTTPResponse",
    "a", "A", "__init__", "snake_case_long_name", "XMLHttpRequest", "main",
    "x2y", "HTML2Text",
]


def test_norm_identifier_col_matches_python(spark):
    df = spark.createDataFrame([(s,) for s in IDENTIFIERS], ["s"])
    got = {r.s: r.n for r in df.select("s", norm_identifier_col("s").alias("n")).collect()}
    for s in IDENTIFIERS:
        assert got[s] == normalize_identifier(s), s


def _unicode_identifiers(n: int, seed: int) -> list[str]:
    """``n`` identifiers of one to four parts: ASCII words in camel, Pascal
    and upper case, and runs of ``\\w`` code points up to U+2FFFF, joined
    by ``_``, ``__`` or nothing."""
    rng = random.Random(seed)
    word_chars = [chr(c) for c in range(0x80, 0x30000) if re.fullmatch(r"\w", chr(c))]
    ascii_words = ["get", "Data", "HTTP", "x2", "Parse", "url", "ID"]

    def part() -> str:
        if rng.random() < 0.5:
            return rng.choice(ascii_words)
        return "".join(rng.choice(word_chars) for _ in range(rng.randint(1, 6)))

    return [
        rng.choice(["", "_", "__"]).join(part() for _ in range(rng.randint(1, 4)))
        for _ in range(n)
    ]


def test_name_table_columns_match_python_on_unicode(spark):
    """The name table's JVM replicas (``norm_identifier_col``, ``nospace``,
    ``first_token`` and ``shingles_col``) equal ``normalize_identifier`` and
    ``char_shingles`` over Unicode identifiers: Python and the JVM must
    agree on case mapping and on counting code points, supplementary
    planes included."""
    idents = IDENTIFIERS + ["_", "__", "a", "ab", "abc", "\U0001d518nicode\U00010400x"]
    idents += _unicode_identifiers(3000, seed=1515)
    triples = spark.createDataFrame(
        [(PRED_DEFINES, f"{s}@r/m.py", "r") for s in idents],
        "pred string, obj string, repo string",
    )
    got = name_features(triples).select(
        "name", "norm", "nospace", "first_token", shingles_col("norm").alias("shingles")
    ).collect()
    assert {r.name for r in got} == set(idents)
    for r in got:
        norm = normalize_identifier(r.name)
        assert (r.norm, r.nospace, r.first_token, r.shingles) == (
            norm, norm.replace(" ", ""), norm.split(" ")[0], sorted(char_shingles(norm))
        ), r.name


def test_sha256_col_matches_python(spark):
    """sha256_col is the build's content hash; a null hashes as ""."""
    vals = ["", "hello", "ü¶é", "a\nb\tc", "x" * 10000, "\U00010437\U0001F600 x", None]
    df = spark.createDataFrame([(s,) for s in vals], "s string")
    got = {r.s: r.h for r in df.select("s", sha256_col("s").alias("h")).collect()}
    for s in vals:
        assert got[s] == sha256_hex(s if s is not None else "")


@given(st.text(alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_normalize_is_idempotent(s):
    n = normalize_identifier(s)
    assert normalize_identifier(n.replace(" ", "_")) == n


@given(
    st.sets(st.text(min_size=1, max_size=5), max_size=20),
    st.sets(st.text(min_size=1, max_size=5), max_size=20),
)
@settings(max_examples=200, deadline=None)
def test_jaccard_properties(a, b):
    j = jaccard(a, b)
    assert 0.0 <= j <= 1.0
    assert jaccard(a, a) == 1.0
    assert j == jaccard(b, a)


def test_shingles_deterministic():
    assert char_shingles("fetch data") == char_shingles("fetch data")
    assert char_shingles("ab") == {"^ab$"} or len(char_shingles("ab")) >= 1


def test_clean_cell_and_markdown_table(spark):
    from raptor_spark.operators.text import clean_cell_col, markdown_table_col

    df = spark.createDataFrame(
        [(["name", "v|al"], [["a  b", None], ["c|d", "e"]])],
        ["headers", "rows"],
    )
    out = df.select(
        markdown_table_col(F.col("headers"), F.col("rows")).alias("md"),
        clean_cell_col(F.lit("  x \t y | z ")).alias("cell"),
    ).first()
    assert out.cell == r"x y \| z"
    lines = out.md.split("\n")
    assert lines[0] == r"| name | v\|al |"
    assert lines[1] == "| --- | --- |"
    assert lines[2] == "| a b | - |"
    assert lines[3] == r"| c\|d | e |"


def test_bpe_ish_token_count(spark):
    from raptor_spark.operators.text import bpe_ish_token_count_col

    rows = [
        (0, "helloWorld foo_bar, baz!"),   # camel split + punct strip → 4
        (1, "XMLHttpRequest"),             # one camel boundary → 2
        (2, ""),                           # empty → 0
        (3, "plain words here"),           # 3
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {
        r.id: r.n
        for r in df.select("id", bpe_ish_token_count_col(F.col("t")).alias("n")).collect()
    }
    assert got == {0: 4, 1: 2, 2: 0, 3: 3}


def test_adaptive_threshold_scalar(spark):
    from raptor_spark.operators.relational import adaptive_threshold

    df = spark.createDataFrame([(float(i),) for i in range(10)], ["v"])
    thr = adaptive_threshold(df, "v", quantile=0.5, sigma_mult=0.5)
    # exact median 4.5 + 0.5 * stddev_pop(0..9)=2.8723
    assert abs(thr - (4.5 + 0.5 * 2.8722813232690143)) < 1e-9


def test_fingerprint_col_deterministic(spark):
    from raptor_spark.operators.text import fingerprint_col

    rows = [(0, "a b c d e f"), (1, "a b c d e f"), (2, "totally different text here")]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {
        r.id: r.fp
        for r in df.select("id", fingerprint_col(F.col("t")).alias("fp")).collect()
    }
    assert got[0] == got[1]          # same content → same fingerprint
    assert got[0] != got[2]          # different content → different


def test_repetition_stats_known_values(spark):
    from raptor_spark.operators.text import repetition_stats

    rows = [
        (0, "a b a b a b"),        # bigrams: ab ba ab ba ab → 5 grams, 2 distinct
        (1, "one two three four"), # 3 grams, all distinct
        (2, "solo"),               # < n words → single whole-text gram
        (3, ""),                   # empty → [""] gram, dup 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.id: (r.n_ngrams, r.n_distinct, r.dup_frac, r.keep)
        for r in repetition_stats(df, "doc_id", "text", n=2, max_dup_frac=0.2).collect()
    }
    assert got[0] == (5, 2, 0.6, 0)
    assert got[1] == (3, 3, 0.0, 1)
    assert got[2] == (1, 1, 0.0, 1)
    assert got[3] == (1, 1, 0.0, 1)


def test_doc_repetition_query_nonvacuous(spark):
    # CLAUDE.md pitfall: a keep/drop gate where every row lands on one side
    # verifies nothing. Both classes must be present on the fixtures.
    import __spark_entry__ as entry_mod
    from tests.conftest import SF_DIR

    out = entry_mod.q_doc_repetition(spark, SF_DIR)
    counts = {r.keep: r.n for r in out.groupBy("keep").count().withColumnRenamed("count", "n").collect()}
    assert counts.get(0, 0) > 0 and counts.get(1, 0) > 0


def test_greedy_bigram_generate_hand_walk(spark):
    # corpus: "a b" x3, "a c" x1, "b a" x2  -> seed = modal unigram 'a'
    # (a:6 > b:5); then a->b (3 > c:1), b->a (2), a->b, ...
    from raptor_spark.operators.text import greedy_bigram_generate

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a b"), (3, "a c"), (4, "b a"), (5, "b a")],
        ["doc_id", "text"],
    ).withColumn("source", F.lit("s"))
    out = greedy_bigram_generate(docs, "source", "text", steps=4).collect()
    walk = [r["token"] for r in sorted(out, key=lambda r: r["step"])]
    assert walk == ["a", "b", "a", "b", "a"]


def test_greedy_bigram_generate_stops_at_dead_end(spark):
    from raptor_spark.operators.text import greedy_bigram_generate

    docs = spark.createDataFrame([(0, "x y z")], ["doc_id", "text"]).withColumn(
        "source", F.lit("s")
    )
    out = sorted(
        greedy_bigram_generate(docs, "source", "text", steps=6).collect(),
        key=lambda r: r["step"],
    )
    # x (seed, modal tie->lexicographic) -> y -> z -> no continuation
    assert [r["token"] for r in out] == ["x", "y", "z"]
