"""Sources/sinks gates (SURVEY.md §2.1): permissive CSV validation, file-type
dispatch, catalog manifest round-trip, incremental change-detection join."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from raptor_spark.catalog import Catalog
from raptor_spark.pipeline import Pipeline
from raptor_spark.schemas import TRIPLES_SCHEMA
from raptor_spark.sources import file_type_dispatch, read_csv_validated


def test_read_csv_validated_quarantines_bad_rows(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text('a,b\n1,"x"\n2,"y"\nbroken_line_only_one_field_with_"quote\n3,"z"\n')
    schema = StructType(
        [
            StructField("a", IntegerType()),
            StructField("b", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_csv_validated(spark, str(p), schema=schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 3
    assert bad.count() == 1
    assert {r.a for r in good.collect()} == {1, 2, 3}


def test_file_type_dispatch(spark):
    rows = [("src/a.py",), ("lib/b.TSX",), ("c/d.go",), ("x/readme.md",), ("noext",)]
    df = file_type_dispatch(spark.createDataFrame(rows, ["path"]))
    got = {r.path: r.lang_detected for r in df.collect()}
    assert got == {
        "src/a.py": "python", "lib/b.TSX": "js", "c/d.go": "go",
        "x/readme.md": "other", "noext": "other",
    }


def test_file_type_dispatch_content_sniff(spark):
    """Two-signal detection (utils.py:135-198 analog): a mis-extensioned or
    extension-less file routes by content; a known extension still wins."""
    rows = [
        ("script", "#!/usr/bin/env python3\nprint('x')\n"),
        ("runner", "#!/usr/bin/node\nconsole.log(1)\n"),
        ("notes.txt", "import os\n\ndef main(arg):\n    return arg\n"),
        ("main.txt", "package main\n\nfunc main() {\n}\n"),
        ("app.dat", "const x = require('fs')\n"),
        ("weird.py", "package main\nfunc main() {}\n"),  # extension wins
        ("readme.md", "Just prose, nothing code-like."),
    ]
    df = file_type_dispatch(
        spark.createDataFrame(rows, ["path", "content"]), content_col="content"
    )
    got = {r.path: r.lang_detected for r in df.collect()}
    assert got == {
        "script": "python", "runner": "js", "notes.txt": "python",
        "main.txt": "go", "app.dat": "js", "weird.py": "python",
        "readme.md": "other",
    }


def test_decode_bytes_ladder(spark):
    """Multi-encoding decode fallback (txt_processor.py:138-151 analog): each
    fixture byte string routes to the FIRST ladder encoding that decodes it
    strictly; undecodable bytes fall back to replacement, never an error."""
    from raptor_spark.sources import decode_bytes_col

    fixtures = [
        ("bom", "héllo".encode("utf-8-sig"), "utf-8-sig", "héllo"),
        ("plain", "héllo".encode("utf-8"), "utf-8", "héllo"),
        ("gbk", "中文内容".encode("gbk"), "gbk", "中文内容"),
        # any valid big5 byte pair is byte-wise plausible gbk too (lead
        # 0xA1-0xF9 ⊂ 0x81-0xFE, trail ranges overlap), so the ladder may
        # claim either — asserted separately below, success is the invariant
        ("big5", "一".encode("big5"), None, None),
        ("cp1252", b"caf\xe9 \x97 ok", "cp1252", "café — ok"),
        ("binary", b"\x81", "utf-8?replace", "�"),
        ("none", None, None, None),
    ]
    df = spark.createDataFrame(
        [(n, b) for n, b, _, _ in fixtures], ["name", "data"]
    ).withColumn("dec", decode_bytes_col(F.col("data")))
    got = {r.name: (r.dec.text if r.dec else None, r.dec.encoding if r.dec else None)
           for r in df.collect()}
    for name, _b, want_enc, want_text in fixtures:
        text, enc = got[name]
        if name == "big5":
            assert text is not None and enc in ("gbk", "big5"), (text, enc)
            continue
        assert text == want_text, (name, text)
        if want_enc is not None:
            assert enc == want_enc, (name, enc)


def test_catalog_manifest_roundtrip(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(10).withColumn("k", F.col("id") % 2)
    cat.write("t", df, partition_by=["k"], meta={"input_fingerprint": "abc"})
    assert cat.exists("t")
    assert cat.manifest("t")["input_fingerprint"] == "abc"
    assert cat.read("t").count() == 10
    cat.drop("t")
    assert not cat.exists("t")


def test_filter_unprocessed_change_detection(spark, files_df, triples_df, tmp_path):
    """The checksum short-circuit (client.py:157-206) in
    Pipeline.incremental_triples: a second run over the same corpus extracts
    nothing; a new file passes through alone."""
    prev = str(tmp_path / "prev")
    Catalog(spark, prev).write("extracted", triples_df)
    p = Pipeline(spark, str(tmp_path / "inc"))
    p.incremental_triples(files_df, prev)
    assert p.incremental_stats["files_extracted"] == 0

    new = spark.createDataFrame(
        [("orgX/new", "src/n.py", "c" * 40, "python", "def brand_new(arg):\n    return arg\n")],
        files_df.schema,
    )
    both = files_df.unionByName(new)
    inc = p.incremental_triples(both, prev)
    assert p.incremental_stats["files_extracted"] == 1
    fresh = inc.exceptAll(triples_df.select(*inc.columns))
    assert [r.path for r in fresh.select("path").distinct().collect()] == ["src/n.py"]
    assert inc.columns == TRIPLES_SCHEMA.fieldNames()
