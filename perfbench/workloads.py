"""Seeded load generator for the benchmark workloads.

Every corpus is a pure function of ``(workload, seed)``.  Each generator
returns the program's input rows together with its own ground truth:
the span sequence the extract stage must produce for every doc.  The
geotag ground truth is derived later by ``oracle.GeoOracle`` from that
ground-truth text, never from the program's output.

Workloads (names are pinned by ``BENCHMARK.json`` and the tests):

* ``mixed_job``     — the default ``build_docs`` mix (15 span kinds plus
  the 1-in-1000 mega-doc fixture) over the mini gazetteer.
* ``geotag_dense``  — plain text only, dense in gazetteer names, over
  the mini gazetteer plus ``big_gazetteer_df`` rows.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

# corpus sizes: one cold job.py run takes 12-25 s on 4 cores, and a
# whole run stays near a minute even on a slow host
N_DOCS = {"mixed_job": 1000, "geotag_dense": 600}
# rows of big_gazetteer_df mixed into the geotag_dense gazetteer; far
# under geotag.BROADCAST_SURFACE_ROW_BUDGET, so the tag join broadcasts
N_BIG_GAZETTEER = 10_000
MEGA_EVERY, MEGA_FACTOR = 1000, 100  # build_docs defaults

_FILLER = (
    "ocean glacier research vessel survey expedition northern southern basin "
    "climate sediment camera station coastal satellite measured reported team "
    "harbor winter summer route traffic market festival museum river bridge "
    "council report annual growth policy transit energy water district local"
).split()
# first tokens shared by many gazetteer surfaces: every one of them
# probes the broadcast side, few complete a match
_HOT_DECOYS = ("new", "port", "saint", "lake", "mount")


@dataclass
class Corpus:
    """Program input plus the generator's own ground truth."""

    docs: list[dict]                      # rows of schemas.DOCS
    expected: dict[str, list[tuple]]      # doc_id -> [(kind, text, media_ref)]
    gazetteer: list[dict]                 # schemas.GAZETTEER rows


# ------------------------------------------------------------ mixed_job

def mixed_job(seed: int) -> Corpus:
    from geoparser_spark.testing.corpus import generate_doc
    from geoparser_spark.testing.gazetteer import gazetteer_rows

    docs, expected = [], {}
    for i in range(N_DOCS["mixed_job"]):
        row, exp = generate_doc(i, seed, MEGA_EVERY, MEGA_FACTOR)
        docs.append(row)
        expected[row["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"]) for s in exp["spans"]]
    return Corpus(docs, expected, gazetteer_rows(seed))


# --------------------------------------------------------- geotag_dense

def _surface_names(rows: list[dict]) -> list[str]:
    out = []
    for r in rows:
        out.append(r["name"])
        out.extend(a for a in (r["alternatenames"] or "").split(",") if a)
    return out


_SYLL_A = ("bran", "cold", "dun", "east", "fair", "grim", "hazel", "iron",
           "jade", "kiln", "long", "mill")
_SYLL_B = ("field", "ford", "gate", "holm", "keep", "mark", "ness", "port",
           "stead", "ton", "vale", "wick")


def big_gazetteer_rows(n: int) -> list[dict]:
    """The rows ``testing.gazetteer.big_gazetteer_df(spark, n)`` builds,
    computed in Python (the tests hold the two equal)."""
    rows = []
    for i in range(n):
        name = f"{_SYLL_A[i % 12]}{_SYLL_B[i // 12 % 12]} {i % 9973}".capitalize()
        rows.append(dict(
            geonameid=i + 10_000_000, name=name, asciiname=name, alternatenames="",
            latitude=math.fmod(i * 0.137, 180.0) - 90,
            longitude=math.fmod(i * 0.291, 360.0) - 180,
            feature_class="P", feature_code="PPLA" if i % 50 == 0 else "PPL",
            country_code=f"C{i % 60}", admin1_code=f"0{i % 7}", admin2_code="",
            population=i % 1_000_000, timezone=""))
    return rows


def geotag_dense(seed: int, big_rows: list[dict]) -> Corpus:
    """Plain-text docs where about a third of the tokens start a
    gazetteer name: mini-gazetteer names (multi-token, ambiguous),
    ``big_gazetteer_df`` names, and hot-first-token decoys that probe
    many surfaces and complete none."""
    from geoparser_spark.testing.gazetteer import gazetteer_rows

    mini = gazetteer_rows(seed)
    mini_names = _surface_names(mini)
    big_names = [r["name"] for r in big_rows]
    big_firsts = sorted({n.split(" ")[0] for n in big_names})
    docs, expected = [], {}
    for i in range(N_DOCS["geotag_dense"]):
        rng = random.Random(f"geotag_dense:{seed}:{i}")
        doc_id = f"doc-{i:08d}"
        spans, truth = [], []
        for off in range(rng.randint(1, 3)):
            parts = []
            for _ in range(rng.randint(100, 160)):
                r = rng.random()
                if r < 0.18:
                    parts.append(rng.choice(mini_names))
                elif r < 0.30:
                    parts.append(rng.choice(big_names))
                elif r < 0.36:
                    parts.append(f"{rng.choice(_HOT_DECOYS).capitalize()} "
                                 f"{rng.choice(_FILLER)}")
                elif r < 0.40:
                    # a big-gazetteer first token with a number no name has
                    parts.append(f"{rng.choice(big_firsts)} {10_000 + rng.randrange(10**5)}")
                else:
                    parts.append(rng.choice(_FILLER))
                if rng.random() < 0.1:
                    parts[-1] += rng.choice([",", ".", ";", " -"])
            # ragged whitespace: the extract stage collapses it
            raw = "".join(p + rng.choice([" ", " ", "  ", "\n", "\t "]) for p in parts)
            spans.append({"kind": "text", "text": raw, "media_ref": None,
                          "offset": off})
            truth.append(("text", " ".join(raw.split()), None))
        docs.append({"doc_id": doc_id, "spans": spans})
        expected[doc_id] = truth
    return Corpus(docs, expected, mini + big_rows)

