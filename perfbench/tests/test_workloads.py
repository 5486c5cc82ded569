"""The load generator: seeded, and its ground truth is what the
program's extract kernel yields for the generated spans."""

from __future__ import annotations

import pytest

import workloads
from geoparser_spark.operators.extract import extract_doc_spans_cols


def _big_rows(n=30):
    return [dict(geonameid=10_000_000 + i, name=f"Kilnford {i}",
                 asciiname=f"Kilnford {i}", alternatenames="", latitude=0.5,
                 longitude=0.5, feature_class="P", feature_code="PPL",
                 country_code="C1", admin1_code="01", admin2_code="",
                 population=i, timezone="") for i in range(n)]


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setitem(workloads.N_DOCS, "geotag_dense", 25)
    monkeypatch.setitem(workloads.N_DOCS, "mixed_job", 30)
    monkeypatch.setattr(workloads, "MEGA_EVERY", 10)
    monkeypatch.setattr(workloads, "MEGA_FACTOR", 70)


def _kernel(spans):
    cols = [[s[k] for s in spans] for k in ("kind", "text", "media_ref", "offset")]
    return [(k, t, m) for k, t, m, _ in extract_doc_spans_cols(*cols, 0, len(spans))]


def test_same_seed_same_corpus(small):
    a, b = workloads.geotag_dense(5, _big_rows()), workloads.geotag_dense(5, _big_rows())
    assert a.docs == b.docs and a.expected == b.expected
    assert workloads.geotag_dense(6, _big_rows()).docs != a.docs
    assert workloads.mixed_job(5).docs == workloads.mixed_job(5).docs


@pytest.mark.parametrize("name", ["mixed_job", "geotag_dense"])
def test_ground_truth_is_the_kernel_output(small, name):
    corpus = (workloads.mixed_job(7) if name == "mixed_job"
              else workloads.geotag_dense(7, _big_rows()))
    for doc in corpus.docs:
        assert _kernel(doc["spans"]) == corpus.expected[doc["doc_id"]], doc["doc_id"]


def test_mixed_job_holds_the_mega_doc_fixture(small):
    corpus = workloads.mixed_job(1)
    sizes = [len(d["spans"]) for d in corpus.docs]
    assert sum(n > 64 for n in sizes) == 3  # docs 9, 19 and 29
    assert max(n for n in sizes if n <= 64) <= 5


def test_dense_text_probes_hot_first_tokens(small):
    corpus = workloads.geotag_dense(2, _big_rows())
    text = " ".join(t for spans in corpus.expected.values() for _, t, _ in spans).lower()
    for hot in ("new ", "port ", "saint ", "lake ", "kilnford "):
        assert hot in text
    assert all(k == "text" for d in corpus.docs for k in
               (s["kind"] for s in d["spans"]))


def test_big_gazetteer_rows_match_the_spark_builder():
    from geoparser_spark.session import get_spark
    from geoparser_spark.testing.gazetteer import big_gazetteer_df

    spark = get_spark(app_name="perfbench-tests", master="local[2]")
    try:
        want = [r.asDict() for r in
                big_gazetteer_df(spark, 3000).orderBy("geonameid").collect()]
    finally:
        spark.stop()
    assert workloads.big_gazetteer_rows(3000) == want
