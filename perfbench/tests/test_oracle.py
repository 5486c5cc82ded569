"""The correctness pass: the geotag oracle's contract, and that
``check_outputs`` catches every kind of corrupted output."""

from __future__ import annotations

import copy

import pytest

import oracle
import workloads
from geoparser_spark.testing.gazetteer import gazetteer_rows


@pytest.fixture(scope="module")
def geo():
    return oracle.GeoOracle(gazetteer_rows(42))


def test_normalize_matches_the_tagger_scrub():
    assert oracle.normalize("  Pasadena,\tTEXAS!! ") == "pasadena texas"
    assert oracle.normalize("snake_case-word") == "snake case word"
    assert oracle.normalize("") == ""


def test_longest_match_wins(geo):
    # "United States of America" is one 4-token surface; "United States"
    # inside it must not fire on its own
    locs = geo.locations("Flights to the United States of America.")
    assert [name for name, *_ in locs] == ["United States"]
    assert locs[0][4] is True


def test_country_co_mention_moves_texas(geo):
    def lat(text):
        return {name: la for name, la, *_ in geo.locations(text)}["Texas"]

    assert lat("Texas") == 31.25044  # the US ADM1: class weight wins
    assert lat("Texas, Mexico") == 18.05333  # co-mentioned country: +3


def test_primary_is_the_most_frequent_entity(geo):
    locs = geo.locations("China China Mexico")
    assert [(name, primary) for name, _, _, _, primary, _ in locs] == [
        ("China", True), ("Mexico", False)]


def test_text_without_places_has_no_locations(geo):
    assert geo.locations("ocean glacier research vessel") == []
    assert geo.locations("") == []


def _perfect_outputs(corpus, geo):
    extracted = {d: [(k, t, m, i) for i, (k, t, m) in enumerate(spans)]
                 for d, spans in corpus.expected.items()}
    geotagged = {}
    for d, spans in corpus.expected.items():
        locs = geo.locations(oracle.ground_truth_text(spans))
        if locs:
            geotagged[d] = locs
    return extracted, geotagged


@pytest.fixture(scope="module")
def small_corpus():
    big = [dict(geonameid=10_000_000 + i, name=f"Branfield {i}",
                asciiname=f"Branfield {i}", alternatenames="", latitude=1.0 * i,
                longitude=2.0, feature_class="P", feature_code="PPL",
                country_code="C1", admin1_code="01", admin2_code="",
                population=i, timezone="") for i in range(50)]
    saved = dict(workloads.N_DOCS)
    workloads.N_DOCS["geotag_dense"] = 40
    try:
        return workloads.geotag_dense(3, big)
    finally:
        workloads.N_DOCS.update(saved)


def test_perfect_outputs_pass(small_corpus):
    geo = oracle.GeoOracle(small_corpus.gazetteer)
    ex, gt = _perfect_outputs(small_corpus, geo)
    attempted, failures = oracle.check_outputs(small_corpus.expected, ex, gt, geo)
    assert attempted == 40 and failures == []
    assert len(gt) > 30  # the workload is dense: nearly every doc has places


def _corruptions():
    def span_text(ex, gt):
        d = sorted(ex)[0]
        k, t, m, o = ex[d][0]
        ex[d][0] = (k, t + " x", m, o)

    def span_order(ex, gt):
        d = sorted(ex)[1]
        k, t, m, o = ex[d][0]
        ex[d][0] = (k, t, m, o + 1)

    def missing_doc(ex, gt):
        del ex[sorted(ex)[2]]

    def extra_doc(ex, gt):
        ex["doc-99999999"] = []

    def lost_location(ex, gt):
        d = sorted(gt)[0]
        gt[d] = gt[d][1:]

    def wrong_primary(ex, gt):
        d = sorted(gt)[1]
        name, lat, lon, gid, primary, score = gt[d][0]
        gt[d][0] = (name, lat, lon, gid, not primary, score)

    def wrong_score(ex, gt):
        d = sorted(gt)[2]
        *head, score = gt[d][0]
        gt[d][0] = (*head, score + 1e-6)

    def missing_geotag_row(ex, gt):
        del gt[sorted(gt)[3]]

    return [span_text, span_order, missing_doc, extra_doc, lost_location,
            wrong_primary, wrong_score, missing_geotag_row]


@pytest.mark.parametrize("corrupt", _corruptions(), ids=lambda f: f.__name__)
def test_each_corruption_is_caught(small_corpus, corrupt):
    geo = oracle.GeoOracle(small_corpus.gazetteer)
    ex, gt = copy.deepcopy(_perfect_outputs(small_corpus, geo))
    corrupt(ex, gt)
    _, failures = oracle.check_outputs(small_corpus.expected, ex, gt, geo)
    assert len(failures) == 1, failures
