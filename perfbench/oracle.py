"""Ground-truth checks for the benchmark's outputs, in pure Python.

* Extract: the output span sequence (kind, text, media_ref, order) of a
  doc must equal the load generator's ground truth, with ``order`` dense
  from 0.
* Geotag: the location list of a doc must equal what ``GeoOracle``
  computes over the ground-truth text.  The oracle re-implements the
  tagger's contract independently of the Spark plan, after the DuckDB
  oracle ``__spark_entry__._geotag_primary_sql``: n-gram surface match
  up to MAX_NGRAM tokens, longest match wins, co-mention scoring,
  (score DESC, geonameid ASC) resolution, most-frequent entity primary.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

MAX_NGRAM = 5  # the tagger's n-gram reach (geotag.MAX_NGRAM)
SCORE_TOL = 1e-9

_CLASS_WEIGHT = {"PCLI": 5.0, "ADM1": 4.0, "PPLC": 3.5, "PPLA": 3.0,
                 "PPLA2": 2.5, "PPL": 2.0}
_NON_ALNUM = re.compile(r"[\W_]+")


def normalize(text: str) -> str:
    """Every run of non-letters/digits becomes one space; lower-cased."""
    return _NON_ALNUM.sub(" ", text).lower().strip()


class GeoOracle:
    """Location lists for texts, from gazetteer rows (schemas.GAZETTEER)."""

    def __init__(self, gazetteer_rows: list[dict], max_n: int = MAX_NGRAM):
        self.max_n = max_n
        self.surfaces: dict[str, list[dict]] = defaultdict(list)
        seen = set()
        for r in gazetteer_rows:
            names = [r["name"], r["asciiname"]] + (r["alternatenames"] or "").split(",")
            for raw in names:
                surf = normalize(raw or "")
                if not surf or len(surf.split(" ")) > max_n:
                    continue
                if (surf, r["geonameid"]) in seen:
                    continue
                seen.add((surf, r["geonameid"]))
                self.surfaces[surf].append(r)

    def _candidates(self, tokens: list[str]) -> list[tuple[int, int, str, dict]]:
        matched = []
        for i in range(len(tokens)):
            for n in range(1, self.max_n + 1):
                if i + n > len(tokens):
                    break
                gram = " ".join(tokens[i:i + n])
                for row in self.surfaces.get(gram, ()):
                    matched.append((i, n, gram, row))
        by_pos: dict[int, set[int]] = defaultdict(set)
        for p, n, _, _ in matched:
            by_pos[p].add(n)
        # longest match wins: drop a span inside a strictly longer one,
        # whose start lies at most max_n - 1 positions earlier
        kept = {(p, n) for p, ns in by_pos.items() for n in ns
                if not any(n2 > n and p2 + n2 >= p + n
                           for p2 in range(p - self.max_n + 1, p + 1)
                           for n2 in by_pos.get(p2, ()))}
        return [m for m in matched if (m[0], m[1]) in kept]

    def locations(self, text: str) -> list[tuple]:
        """[(name, latitude, longitude, geonameid, is_primary, score)]
        in rank order — the program's ``locations`` array."""
        cands = self._candidates(normalize(text).split(" "))
        if not cands:
            return []
        ccs = {r["country_code"] for *_, r in cands if r["feature_code"] == "PCLI"}
        a1s = {(r["country_code"], r["admin1_code"]) for *_, r in cands
               if r["feature_code"] == "ADM1" and r["country_code"] is not None
               and r["admin1_code"] is not None}
        best: dict[tuple, tuple] = {}
        for pos, _, gram, r in cands:
            score = ((3.0 if r["country_code"] in ccs else 0.0)
                     + (2.0 if r["feature_code"] != "ADM1"
                        and (r["country_code"], r["admin1_code"]) in a1s else 0.0)
                     + _CLASS_WEIGHT.get(r["feature_code"], 1.0)
                     + math.log10(r["population"] + 1) / 10.0)
            key = (pos, gram)
            if key not in best or (-score, r["geonameid"]) < (-best[key][0], best[key][1]["geonameid"]):
                best[key] = (score, r)
        entities: dict[tuple, list] = {}
        for score, r in best.values():
            k = (r["geonameid"], r["name"], r["latitude"], r["longitude"])
            e = entities.setdefault(k, [0, score])
            e[0] += 1
            e[1] = max(e[1], score)
        ranked = sorted(entities.items(),
                        key=lambda kv: (-kv[1][0], kv[0][1], kv[0][0]))
        return [(name, lat, lon, gid, rank == 0, score)
                for rank, ((gid, name, lat, lon), (_, score)) in enumerate(ranked)]


def ground_truth_text(spans: list[tuple]) -> str:
    """The text the tagger reads: text spans joined by one space."""
    return " ".join(t for k, t, _ in spans if k == "text")


def _same_locations(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[:5] != w[:5] or g[5] is None or abs(g[5] - w[5]) > SCORE_TOL:
            return False
    return True


def check_outputs(expected: dict[str, list[tuple]],
                  extracted: dict[str, list[tuple]],
                  geotagged: dict[str, list[tuple]],
                  oracle: GeoOracle) -> tuple[int, list[str]]:
    """Compare one run's outputs with the ground truth.

    ``extracted`` maps doc_id to output spans (kind, text, media_ref,
    order); ``geotagged`` maps doc_id to locations (name, latitude,
    longitude, geonameid, is_primary, score).  A doc the tagger found
    nothing in may be absent from ``geotagged``.

    Returns (attempted, failures): one failure line per wrong doc, plus
    one per output doc the corpus does not hold."""
    failures = []
    for doc_id, want in expected.items():
        got = extracted.get(doc_id)
        if got is None:
            failures.append(f"{doc_id}: missing from extracted output")
            continue
        if [s[:3] for s in got] != want or [s[3] for s in got] != list(range(len(got))):
            failures.append(f"{doc_id}: extracted spans differ from ground truth")
            continue
        want_locs = oracle.locations(ground_truth_text(want))
        if not _same_locations(geotagged.get(doc_id, []), want_locs):
            failures.append(f"{doc_id}: locations differ from the oracle")
    for doc_id in sorted((extracted.keys() | geotagged.keys()) - expected.keys()):
        failures.append(f"{doc_id}: output holds a doc the corpus does not")
    return len(expected), failures
