"""extract() routing: docs whose spans need no Python extractor are
extracted by a native Column expression, every other doc by the Arrow
kernel — and the two agree span for span.

The generator aims at the places a JVM re-implementation of
``" ".join(text.split())`` and the kernel's span rules can drift: every
``str.isspace()`` code point (found by scanning all of them, so the
regex class is checked, not restated), null and empty fields, equal and
negative offsets, null and empty span arrays, non-BMP characters.
"""
from __future__ import annotations

import random
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoparser_spark.operators.extract import (
    MEDIA_KINDS,
    _SPAN_EXTRACTORS,
    _extract_arrow_batches,
    _native_spans,
    _needs_python,
    extract,
)
from geoparser_spark.schemas import EXTRACTED, SPAN_IN

N_DOCS = 5000

WHITESPACE = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
# not whitespace to str.split(), though some look it: zero-width space,
# BOM, NUL, word joiner; plus non-BMP and accented letters
OTHER = ["​", "﻿", "\x00", "⁠", "\U0001F30D", "\U00010348",
         "\U0002A6D6", "é", "ß", "Ж", "東京"]
WORDS = ["Paris", "Lagos", "São", "x", "-", "42"]
KINDS = [None, "", "text", "TEXT", "weird", *sorted(MEDIA_KINDS)]
# registered kinds whose payload is missing: still native-eligible
EMPTY_PAYLOAD_KINDS = ["html", "pdf_bytes", "zip_bytes", "markdown"]

DOCS = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("spans", T.ArrayType(SPAN_IN)),
])


def _text(rng: random.Random) -> str | None:
    roll = rng.random()
    if roll < 0.08:
        return None
    if roll < 0.14:
        return ""
    parts = []
    for _ in range(rng.randint(1, 8)):
        pool = rng.choice((WHITESPACE, WHITESPACE, OTHER, WORDS, WORDS))
        parts.append("".join(rng.choice(pool) for _ in range(rng.randint(1, 3))))
    return "".join(parts)


def _span(rng: random.Random) -> tuple:
    kind = rng.choice(KINDS + EMPTY_PAYLOAD_KINDS)
    text = _text(rng)
    if kind in EMPTY_PAYLOAD_KINDS:
        text = rng.choice((None, ""))
    ref = rng.choice((None, None, "", f"img://{rng.randint(0, 9)}"))
    offset = rng.choice((None, rng.randint(-3, 3), rng.randint(0, 2)))
    return (kind, text, ref, offset)


def _doc(rng: random.Random, i: int) -> tuple:
    roll = rng.random()
    if roll < 0.03:
        spans = None
    elif roll < 0.06:
        spans = []
    else:
        spans = [_span(rng) for _ in range(rng.randint(1, 7))]
    return (f"d{i:05d}", rng.randint(0, 3), spans)


@pytest.fixture(scope="module")
def native_docs(spark):
    rng = random.Random(20261017)
    return spark.createDataFrame([_doc(rng, i) for i in range(N_DOCS)], DOCS).cache()


def _kernel(docs):
    """Every doc through the mapInArrow kernel, whatever its spans."""
    schema = T.StructType([EXTRACTED["doc_id"], docs.schema["chunk_id"],
                           EXTRACTED["spans"]])
    return docs.mapInArrow(_extract_arrow_batches(("chunk_id",)), schema=schema)


def _rows(df) -> dict:
    return {r["doc_id"]: (r["chunk_id"], [tuple(s) for s in r["spans"]])
            for r in df.collect()}


def test_generator_stays_native(native_docs):
    assert native_docs.where(_needs_python(F.col("spans"))).count() == 0


def test_native_spans_equal_arrow_kernel(native_docs):
    native = native_docs.select(
        "doc_id", "chunk_id", _native_spans(F.col("spans")).alias("spans"))
    want = _rows(_kernel(native_docs))
    got = _rows(native)
    assert len(want) == N_DOCS
    bad = [d for d in want if got.get(d) != want[d]]
    assert bad == [], [(d, want[d], got.get(d)) for d in bad[:3]]
    # the generator reaches every output shape it is meant to
    spans = [s for _, ss in want.values() for s in ss]
    assert {s[0] for s in spans} >= {"text", ""} | MEDIA_KINDS
    assert any(s[2] == "" for s in spans)


def test_extract_routes_to_the_same_spans(spark, native_docs):
    # mixed input: a share of docs carry a span only Python can read
    python_docs = spark.createDataFrame(
        [(f"p{i}", i, [("html", f"<p>page {i}</p>", None, 1),
                       ("text", " lead　in ", None, 0)])
         for i in range(50)], DOCS)
    docs = native_docs.unionByName(python_docs)
    assert _rows(extract(docs, passthrough=("chunk_id",))) == _rows(_kernel(docs))


@pytest.mark.parametrize("kind", sorted(_SPAN_EXTRACTORS))
def test_routing_predicate_per_registered_kind(spark, kind):
    docs = spark.createDataFrame(
        [(f"{kind}-{label}", 0, [(kind, text, None, 0), ("text", "also", None, 1)])
         for label, text in (("payload", "x"), ("empty", ""), ("null", None))],
        DOCS)
    got = {r["doc_id"]: r["py"] for r in
           docs.select("doc_id", _needs_python(F.col("spans")).alias("py")).collect()}
    assert got == {f"{kind}-payload": kind != "text",
                   f"{kind}-empty": False, f"{kind}-null": False}


def test_extract_plan_has_both_branches(spark):
    docs = spark.createDataFrame([("d", 0, [("text", "a", None, 0)])], DOCS)
    plan = extract(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in plan and "Union" in plan


def test_mega_only_skew_split_equals_kernel(spark, native_docs):
    """mega-only: a mega doc that needs no Python extractor is extracted
    natively in place, the chunks of every other mega doc go to the
    kernel under one salted exchange; either way the spans equal the
    kernel's over the whole doc."""
    from geoparser_spark.operators.extract import extract_with_skew_split

    python_docs = spark.createDataFrame(
        [(f"p{i}", 0, [("html", f"<p>page {i}</p>", None, 2)]
          + [("text", f" part {j} ", None, j % 3) for j in range(i % 9)])
         for i in range(40)], DOCS)
    docs = native_docs.unionByName(python_docs)
    got = extract_with_skew_split(docs.drop("chunk_id"), 4, max_spans=3,
                                  redistribute="mega-only-strict")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("REPARTITION_BY_NUM") == 1
    want = {d: spans for d, (_, spans) in _rows(_kernel(docs)).items()}
    assert {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in got.collect()} == want
