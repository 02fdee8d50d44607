"""Shared pure-Python extraction core.

This module is the SINGLE source of truth for triple-extraction semantics.
It is imported both by the pure-Python oracle (``raptor_spark.oracle``) and by
the Spark pandas UDF (``raptor_spark.extract``), so the P/R gate measures
pipeline correctness rather than implementation drift (SURVEY.md §7.4 risk 2).

Semantics reproduce, in record shape, the reference's per-filetype processor
protocol ``process_document(file) -> {"chunk": [...]} | {"error": str}``
(reference: svc/document_analysis_service/document_analysis.py:61-78 dispatch;
svc/document_analysis_service/processors/txt_processor.py:129-195), with the
per-object AI tagging replaced by batched, embedding-free lexical extraction
(SURVEY.md §2.8).

Everything here is deterministic and content-derived: no wall clock, no
randomness, no uuid4 (the reference's uuid ids at txt_processor.py:174 are the
anti-pattern SURVEY.md §7.4 calls out).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import Iterator

# ---------------------------------------------------------------------------
# Predicates (the five triple kinds mandated by BASELINE.json north_star)
# ---------------------------------------------------------------------------
PRED_CONTAINS = "repo-contains-path"
PRED_IMPORTS = "file-imports-module"
PRED_DEFINES = "file-defines-symbol"
PRED_CALLS = "symbol-calls-symbol"
PRED_CONCEPT = "file-tagged-concept"

ALL_PREDS = (PRED_CONTAINS, PRED_IMPORTS, PRED_DEFINES, PRED_CALLS, PRED_CONCEPT)

# Concept lexicon — the embedding-free replacement for the reference's
# VLM/audio tagging (svc/audio_classifier_service/processors/classifier.py:66-75
# top-k label semantics; svc/image_processing_service/image_processor.py:164-222
# description semantics). Scores are term frequency per 1k tokens.
CONCEPT_LEXICON: dict[str, tuple[str, ...]] = {
    "parser": ("parse", "parser", "parsing", "ast", "grammar", "token", "lexer"),
    "cache": ("cache", "cached", "lru", "memoize", "ttl", "evict"),
    "http": ("http", "request", "response", "url", "endpoint", "rest", "api"),
    "auth": ("auth", "token", "login", "password", "jwt", "credential", "oauth"),
    "database": ("db", "database", "sql", "query", "cursor", "transaction", "commit"),
    "queue": ("queue", "kafka", "topic", "consumer", "producer", "broker"),
    "crypto": ("hash", "sha256", "hmac", "encrypt", "decrypt", "cipher", "digest"),
    "logging": ("log", "logger", "logging", "debug", "warn", "error", "trace"),
    "network": ("socket", "tcp", "udp", "packet", "connect", "bind", "listen"),
    "serialization": ("json", "serialize", "deserialize", "pickle", "encode", "decode"),
}

# Concept tag threshold: term frequency per 1k tokens must reach this value.
# Fixed (not adaptive) so the oracle and the distributed extractor agree
# exactly; the adaptive quantile-cutoff variant (reference scene-detection
# pattern, svc/video_scene_detection_service/scene_detection.py:137-144) is
# exposed separately in raptor_spark.operators.text.
CONCEPT_MIN_TF_PER_1K = 1.0

# Python keywords / builtins never treated as call targets.
_NOT_CALLS = frozenset(
    """and as assert async await break class continue def del elif else except
    finally for from global if import in is lambda nonlocal not or pass raise
    return try while with yield print len range str int float list dict set
    tuple type super isinstance enumerate zip map filter sorted min max sum abs
    open repr getattr setattr hasattr""".split()
)

_RE_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_RE_PY_IMPORT = re.compile(r"^\s*import\s+([\w\.]+(?:\s*,\s*[\w\.]+)*)")
_RE_PY_FROM = re.compile(r"^\s*from\s+([\w\.]+)\s+import\b")
_RE_PY_DEF = re.compile(r"^(\s*)(?:async\s+)?def\s+(\w+)\s*\(")
_RE_PY_CLASS = re.compile(r"^(\s*)class\s+(\w+)")
_RE_CALL = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)\s*\(")
_RE_JS_IMPORT_FROM = re.compile(r"""import\s+.*?from\s+['"]([^'"]+)['"]""")
_RE_JS_REQUIRE = re.compile(r"""require\s*\(\s*['"]([^'"]+)['"]\s*\)""")
_RE_JS_FUNC = re.compile(r"^\s*(?:export\s+)?(?:async\s+)?function\s+(\w+)\s*\(")
_RE_JS_CONST_FN = re.compile(r"^\s*(?:export\s+)?const\s+(\w+)\s*=\s*(?:async\s*)?(?:\([^)]*\)|\w+)\s*=>")
_RE_GO_IMPORT = re.compile(r'^\s*(?:import\s+)?"([^"]+)"')
_RE_GO_IMPORT_LINE = re.compile(r'^\s*import\s+"([^"]+)"')
_RE_GO_FUNC = re.compile(r"^\s*func\s+(?:\([^)]*\)\s+)?(\w+)\s*\(")


def sha256_hex(content: str) -> str:
    """sha256 of the utf-8 content bytes: the Python reference that
    tests pin ``functions.sha256_col``, the build's hash, against.

    Analog of the reference's checksum change-detection
    (raptor/asset_management/asset_management/database.py:583-592) and
    exact-cache key (raptor/qdrant_search_docker/cache_manager/utils.py:1-15).
    """
    return hashlib.sha256(content.encode("utf-8", errors="surrogatepass")).hexdigest()


def normalize_identifier(name: str) -> str:
    """Canonicalization prep: camelCase / PascalCase / snake_case → space-less
    lowercase token string, e.g. ``fooBar`` / ``foo_bar`` / ``FooBar`` →
    ``foo bar``. Analog of the reference's s2t output normalization
    (svc/document_summary_service/document_summary.py:18,364) applied to code
    identifiers (SURVEY.md §2.7).
    """
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1 \2", name)
    s = re.sub(r"([A-Z]+)([A-Z][a-z])", r"\1 \2", s)
    s = s.replace("_", " ").replace("-", " ")
    return " ".join(s.lower().split())


def char_shingles(s: str, k: int = 3) -> set[str]:
    """Character k-gram shingle set over the normalized string (padded), the
    MinHash input for entity linking."""
    padded = f"^{s}$"
    if len(padded) <= k:
        return {padded}
    return {padded[i : i + k] for i in range(len(padded) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    if inter == 0:
        return 0.0
    return inter / (len(a) + len(b) - inter)


def _py_def_spans(lines: list[str]) -> list[tuple[str, int, int]]:
    """Top-level ``def``/``class`` spans as (name, start_line, end_line),
    1-based inclusive. A span ends where the next top-level statement starts.
    Mirrors the reference's element-span bookkeeping
    (processors/office_processor.py:507-510 positional ordering)."""
    spans: list[tuple[str, int, int]] = []
    starts: list[tuple[str, int]] = []
    for i, line in enumerate(lines, start=1):
        m = _RE_PY_DEF.match(line) or _RE_PY_CLASS.match(line)
        if m and m.group(1) == "":
            starts.append((m.group(2), i))
    # close each span at the next top-level non-blank, non-continuation line
    for idx, (name, start) in enumerate(starts):
        end = len(lines)
        for j in range(start, len(lines)):  # j is 0-based index of line j+1
            line = lines[j]
            if line[:1] not in ("", " ", "\t", ")", "#") and line.strip():
                end = j  # line j+1 is top-level → span ends at previous line
                break
        # never overlap the next top-level def
        if idx + 1 < len(starts):
            end = min(end, starts[idx + 1][1] - 1)
        spans.append((name, start, max(start, end)))
    return spans


def _extract_python(file_id: str, lines: list[str]) -> Iterator[tuple[str, str, str, int, float]]:
    """Yield (subj, pred, obj, line, score) for a python file."""
    for i, line in enumerate(lines, start=1):
        m = _RE_PY_FROM.match(line)
        if m:
            yield (file_id, PRED_IMPORTS, m.group(1), i, 1.0)
            continue
        m = _RE_PY_IMPORT.match(line)
        if m:
            for mod in re.split(r"\s*,\s*", m.group(1)):
                yield (file_id, PRED_IMPORTS, mod.split(" as ")[0].strip(), i, 1.0)

    for name, start, end in _py_def_spans(lines):
        yield (file_id, PRED_DEFINES, f"{name}@{start}", start, 1.0)
        # calls: span-containment (call line within enclosing def's span) —
        # the interval-join semantics of SURVEY.md §2.3 row 1.
        seen: set[tuple[str, int]] = set()
        for j in range(start, end):  # lines start+1..end (skip the def line)
            for cm in _RE_CALL.finditer(lines[j]):
                callee = cm.group(1)
                if callee in _NOT_CALLS or callee == name:
                    continue
                key = (callee, j + 1)
                if key not in seen:
                    seen.add(key)
                    yield (f"{file_id}:{name}", PRED_CALLS, callee, j + 1, 1.0)


def _extract_js(file_id: str, lines: list[str]) -> Iterator[tuple[str, str, str, int, float]]:
    for i, line in enumerate(lines, start=1):
        for m in _RE_JS_IMPORT_FROM.finditer(line):
            yield (file_id, PRED_IMPORTS, m.group(1), i, 1.0)
        for m in _RE_JS_REQUIRE.finditer(line):
            yield (file_id, PRED_IMPORTS, m.group(1), i, 1.0)
        m = _RE_JS_FUNC.match(line) or _RE_JS_CONST_FN.match(line)
        if m:
            yield (file_id, PRED_DEFINES, f"{m.group(1)}@{i}", i, 1.0)


def _extract_go(file_id: str, lines: list[str]) -> Iterator[tuple[str, str, str, int, float]]:
    in_import_block = False
    for i, line in enumerate(lines, start=1):
        stripped = line.strip()
        if stripped.startswith("import ("):
            in_import_block = True
            continue
        if in_import_block:
            if stripped.startswith(")"):
                in_import_block = False
                continue
            m = _RE_GO_IMPORT.match(line)
            if m:
                yield (file_id, PRED_IMPORTS, m.group(1), i, 1.0)
            continue
        m = _RE_GO_IMPORT_LINE.match(line)
        if m:
            yield (file_id, PRED_IMPORTS, m.group(1), i, 1.0)
        m = _RE_GO_FUNC.match(line)
        if m:
            yield (file_id, PRED_DEFINES, f"{m.group(1)}@{i}", i, 1.0)


_LANG_EXTRACTORS = {
    "python": _extract_python,
    "js": _extract_js,
    "go": _extract_go,
}


def _concept_tags(content: str) -> Iterator[tuple[str, str, int, float]]:
    """Lexical concept scoring: TF per 1k tokens against the lexicon.

    Replaces the reference's per-object AI tagging (SURVEY.md §2.8) with a
    deterministic batched equivalent; threshold semantics mirror the
    ``probability > 0.4`` label filter
    (svc/audio_orchestrator_service/kafka_handler.py:82-84).
    """
    words = _RE_WORD.findall(content.lower())
    n = len(words)
    if n == 0:
        return
    counts = Counter(words)
    for concept, terms in CONCEPT_LEXICON.items():
        hits = sum(counts.get(t, 0) for t in terms)
        if hits == 0:
            continue
        tf_per_1k = hits * 1000.0 / n
        if tf_per_1k >= CONCEPT_MIN_TF_PER_1K:
            yield (PRED_CONCEPT, concept, 0, round(tf_per_1k, 6))


def extract_file(
    repo: str, path: str, lang: str, content: str
) -> list[tuple[str, str, str, str, str, int, float]]:
    """Extract all triples for one file.

    Returns rows ``(subj, pred, obj, repo, path, line, score)`` matching the
    triples schema in FIXTURES.md §2. ``subj`` conventions:

    * repo-contains-path:  subj = repo,            obj = path
    * file-imports-module: subj = "repo:path",     obj = module
    * file-defines-symbol: subj = "repo:path",     obj = "name@line"
    * symbol-calls-symbol: subj = "repo:path:def", obj = callee name
    * file-tagged-concept: subj = "repo:path",     obj = concept, score = tf/1k
    """
    file_id = f"{repo}:{path}"
    rows: list[tuple[str, str, str, str, str, int, float]] = [
        (repo, PRED_CONTAINS, path, repo, path, 0, 1.0)
    ]
    if content is None:
        return rows
    extractor = _LANG_EXTRACTORS.get(lang)
    if extractor is not None:
        for subj, pred, obj, line, score in extractor(file_id, content.split("\n")):
            rows.append((subj, pred, obj, repo, path, line, score))
    for pred, obj, line, score in _concept_tags(content):
        rows.append((file_id, pred, obj, repo, path, line, score))
    return rows
