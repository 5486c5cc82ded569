"""End-to-end Spark-path tests: extraction equality, partitioning
invariance, mega-doc splitting, geotag fixtures, resume.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from geoparser_spark.operators.extract import extract
from geoparser_spark.operators.geotag import (
    build_surface_forms,
    candidate_mentions,
    geotag,
    resolve_mentions,
    select_primary,
)
from geoparser_spark.plans.runtime import (
    read_done_parts,
    reassemble_chunks,
    resumable_stage,
    salted_repartition,
    split_mega_docs,
    with_part_id,
)
from geoparser_spark.testing.corpus import build_docs, build_expected

N_DOCS = 120
GEN = dict(seed=42, mega_every=40, mega_factor=20)


@pytest.fixture(scope="module")
def docs(spark):
    return build_docs(spark, N_DOCS, **GEN).cache()


@pytest.fixture(scope="module")
def expected(spark):
    return build_expected(spark, N_DOCS, **GEN).cache()


def _assert_span_equality(got, expected):
    j = got.alias("g").join(expected.alias("e"), "doc_id", "full")
    bad = j.where(
        F.col("g.spans").isNull()
        | F.col("e.spans").isNull()
        | ~(F.col("g.spans") == F.col("e.spans"))
    )
    assert bad.count() == 0


def test_extract_matches_golden(docs, expected):
    _assert_span_equality(extract(docs), expected)


def test_extract_invariant_under_repartition(docs, expected):
    # span order is data, not row order: any partitioning gives the
    # same per-doc sequence (SURVEY.md §4.2 determinism discipline)
    _assert_span_equality(extract(salted_repartition(docs, 13)), expected)


@pytest.mark.parametrize("key", ["doc_id", ("doc_id", "chunk_id")])
def test_salted_repartition_fills_every_partition(spark, key):
    """The exchange buckets on the salt hash itself: a salt pre-reduced
    to pmod(hash, n) is hashed again into n buckets, and its collisions
    leave about a third of the partitions empty."""
    rows = spark.range(1600).select(
        F.format_string("doc-%04d", "id").alias("doc_id"),
        F.lit(0).alias("chunk_id"))
    sizes = (salted_repartition(rows, 16, key)
             .groupBy(F.spark_partition_id().alias("p")).count().collect())
    assert len(sizes) == 16
    assert max(r["count"] for r in sizes) < 2 * 1600 / 16


def test_split_mega_docs_roundtrip(docs, expected):
    # chunk spans keep their source offsets; extract per chunk
    # (chunk_id as a passthrough column) then reassemble in chunk order
    chunked = split_mega_docs(docs, max_spans=8)
    per_chunk = extract(chunked, passthrough=("chunk_id",))
    _assert_span_equality(reassemble_chunks(per_chunk), expected)


def test_extract_with_skew_split_matches_golden(docs, expected):
    from geoparser_spark.operators.extract import extract_with_skew_split

    _assert_span_equality(extract_with_skew_split(docs, 16, max_spans=8), expected)


def test_skew_split_handles_offset_shuffled_arrays(docs, expected):
    """Array order is untrusted data: a doc whose spans arrive in
    reversed array order must still reassemble in global offset order
    (regression: split_mega_docs used to chunk in raw array order, so
    only offset-pre-sorted inputs survived the split path)."""
    from geoparser_spark.operators.extract import extract_with_skew_split

    shuffled = docs.select("doc_id", F.reverse("spans").alias("spans"))
    _assert_span_equality(extract(shuffled), expected)  # plain path
    _assert_span_equality(extract_with_skew_split(shuffled, 16, max_spans=8), expected)


def test_resumable_stage_resumes(spark, docs, expected):
    tmp = tempfile.mkdtemp(prefix="gp_resume_")
    out_dir = f"{tmp}/out"
    man_dir = f"{tmp}/manifest"
    try:
        n_parts = 8
        # simulate a crashed first run: only partitions 0..3 completed
        first_half = with_part_id(docs, n_parts=n_parts).where(F.col("part_id") < 4)
        out1 = resumable_stage(
            spark, first_half.drop("part_id"), extract, out_dir, man_dir,
            run_id="r1", n_parts=n_parts,
        )
        done1 = spark.read.parquet(man_dir).where(F.col("status") == "done")
        assert done1.select("partition_id").distinct().count() == 4

        # resume over the full input: must process ONLY the remaining 4
        out2 = resumable_stage(
            spark, docs, extract, out_dir, man_dir, run_id="r2", n_parts=n_parts
        )
        man = spark.read.parquet(man_dir)
        r2_parts = (
            man.where(F.col("run_id") == "r2").select("partition_id").distinct()
        )
        assert r2_parts.count() == n_parts - 4
        # final output identical to an uninterrupted run
        _assert_span_equality(out2, expected)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resumable_stage_on_catalog_ref(spark, docs, expected):
    """The same resume protocol against CATALOG TABLE refs: output and
    manifest go through the DataFrameWriterV2 path (overwritePartitions
    / append — the calls that are snapshot commits on Iceberg), reads
    through spark.table.  Exercised end-to-end on the session catalog's
    parquet tables."""
    out_ref = "table:gp_resume_out"
    man_ref = "table:gp_resume_man"
    try:
        n_parts = 8
        first_half = with_part_id(docs, n_parts=n_parts).where(F.col("part_id") < 4)
        resumable_stage(
            spark, first_half.drop("part_id"), extract, out_ref, man_ref,
            run_id="r1", n_parts=n_parts,
        )
        man1 = spark.table("gp_resume_man").where(F.col("status") == "done")
        assert man1.select("partition_id").distinct().count() == 4

        out2 = resumable_stage(
            spark, docs, extract, out_ref, man_ref, run_id="r2", n_parts=n_parts
        )
        man = spark.table("gp_resume_man")
        assert (
            man.where(F.col("run_id") == "r2")
            .select("partition_id").distinct().count()
            == n_parts - 4
        )
        _assert_span_equality(out2, expected)
    finally:
        spark.sql("DROP TABLE IF EXISTS gp_resume_out")
        spark.sql("DROP TABLE IF EXISTS gp_resume_man")


def _never_stage(df):
    raise AssertionError("stage invoked on a fully-done resume")


def _output_files(spark, ref: str) -> dict[str, int]:
    """{file: mtime_ns} of everything a stage output holds on disk."""
    if ref.startswith("table:"):
        paths = [urlparse(f).path for f in spark.table(ref[6:]).inputFiles()]
    else:
        paths = [os.path.join(d, f) for d, _, fs in os.walk(ref) for f in fs]
    return {p: os.stat(p).st_mtime_ns for p in paths}


@pytest.mark.parametrize("kind", ["path", "table"])
def test_finished_stage_reruns_no_work(spark, docs, expected, kind, caplog):
    """A rerun over a manifest that marks every partition done returns
    the written output without invoking the stage, writing output or
    appending manifest rows."""
    tmp = tempfile.mkdtemp(prefix="gp_rerun_")
    if kind == "path":
        out_ref, man_ref = f"{tmp}/out", f"{tmp}/manifest"
    else:
        out_ref, man_ref = "table:gp_rerun_out", "table:gp_rerun_man"

    def manifest_rows() -> int:
        if kind == "path":
            return spark.read.parquet(man_ref).count()
        return spark.table(man_ref[6:]).count()

    try:
        n_parts = 8
        resumable_stage(spark, docs, extract, out_ref, man_ref,
                        run_id="r1", n_parts=n_parts)
        rows_before, files_before = manifest_rows(), _output_files(spark, out_ref)
        assert rows_before == n_parts and files_before

        caplog.set_level(logging.INFO, logger="geoparser_spark.plans.runtime")
        out2 = resumable_stage(spark, docs, _never_stage, out_ref, man_ref,
                               run_id="r2", n_parts=n_parts)
        assert manifest_rows() == rows_before
        assert _output_files(spark, out_ref) == files_before
        _assert_span_equality(out2, expected)
        [msg] = [r.getMessage() for r in caplog.records
                 if r.name == "geoparser_spark.plans.runtime"]
        assert "8 of 8 logical partitions done, 0 to do" in msg
        assert "short-circuit" in msg
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.sql("DROP TABLE IF EXISTS gp_rerun_out")
        spark.sql("DROP TABLE IF EXISTS gp_rerun_man")


def test_resume_stage_planning_launches_no_job(spark, docs, expected):
    """On a resume, the todo rows reach the stage as a part_id filter
    over the source: building the stage's plan (extract_with_skew_split
    asks the source for its partition count) launches no Spark job."""
    from geoparser_spark.operators.extract import extract_with_skew_split

    tmp = tempfile.mkdtemp(prefix="gp_plan_")
    src, out_dir, man_dir = f"{tmp}/docs", f"{tmp}/out", f"{tmp}/manifest"
    sc = spark.sparkContext
    seen = {}

    def stage(todo):
        sc.setJobGroup("gp-resume-planning", "build the resume stage plan")
        try:
            planned = extract_with_skew_split(todo, 8, redistribute="mega-only")
            seen["jobs"] = list(sc.statusTracker().getJobIdsForGroup("gp-resume-planning"))
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        seen["plan"] = todo._jdf.queryExecution().analyzed().toString()
        return planned

    try:
        n_parts = 8
        docs.write.parquet(src)
        source = spark.read.parquet(src)
        first_half = with_part_id(source, n_parts=n_parts).where(F.col("part_id") < 4)
        resumable_stage(spark, first_half.drop("part_id"), extract, out_dir,
                        man_dir, run_id="r1", n_parts=n_parts)

        out2 = resumable_stage(spark, source, stage, out_dir, man_dir,
                               run_id="r2", n_parts=n_parts)
        assert seen["jobs"] == []
        filters = [ln for ln in seen["plan"].splitlines() if "Filter" in ln]
        assert any("part_id" in ln for ln in filters), seen["plan"]
        assert "Join" not in seen["plan"], seen["plan"]
        _assert_span_equality(out2, expected)
        assert spark.read.parquet(man_dir).count() == n_parts
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class TestReadDoneParts:
    """Only a manifest with no committed rows reads as "nothing done";
    an unreadable one raises instead of rerunning every partition."""

    @pytest.mark.parametrize("case", ["missing_path", "missing_table",
                                      "uncommitted_first_append"])
    def test_no_committed_manifest_is_empty(self, spark, tmp_path, case):
        ref = {"missing_path": str(tmp_path / "absent"),
               "missing_table": "table:gp_absent_manifest",
               "uncommitted_first_append": str(tmp_path / "manifest")}[case]
        # a crash during the first manifest append leaves only _temporary/
        (tmp_path / "manifest" / "_temporary" / "0").mkdir(parents=True)
        done = read_done_parts(spark, ref)
        assert done.collect() == []
        assert done.dtypes == [("part_id", "int")]
        # JVM-only: a Python-backed scan would start a worker family
        plan = done._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan

    def test_non_parquet_manifest_raises(self, spark, tmp_path):
        (tmp_path / "manifest").mkdir()
        (tmp_path / "manifest" / "part-00000.parquet").write_bytes(b"not parquet")
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            read_done_parts(spark, str(tmp_path / "manifest")).collect()

    def test_corrupt_manifest_rows_raise(self, spark, tmp_path):
        man = str(tmp_path / "manifest")
        spark.createDataFrame(
            [("r1", p, "done") for p in range(64)],
            "run_id string, partition_id int, status string",
        ).coalesce(1).write.parquet(man)
        [data] = [f for f in os.listdir(man) if f.endswith(".parquet")]
        with open(os.path.join(man, data), "r+b") as f:
            f.seek(4)  # past the magic: clobber the first column chunk
            f.write(b"\xff" * 64)
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            read_done_parts(spark, man).collect()


# ----------------------------------------------------------- geotag

def test_geotag_fixtures(spark, gazetteer):
    texts = spark.createDataFrame(
        [
            ("d1", "He moved from Pasadena Texas to the coast."),
            ("d3", "Texas near Mexico border town."),
        ],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    res = resolve_mentions(candidate_mentions(texts, surf))
    got = {
        (r.doc_id, r.gram): r.geonameid
        for r in res.select("doc_id", "gram", "geonameid").collect()
    }
    # alone: admin-hierarchy weight wins → US ADM1 Texas, US Pasadena
    assert got[("d1", "texas")] == 4736286
    assert got[("d1", "pasadena")] == 5381396
    # with "Mexico" co-mentioned: the MX Texas (the reference's naive
    # top-hit at 18.05333,-91.92139, README.md:69-82) wins
    assert got[("d3", "texas")] == 3516809


def test_geotag_primary_polar_geot(spark, gazetteer):
    # polar.geot golden contract (reference README.md:98-115): most
    # frequent entity is primary; China optional
    texts = spark.createDataFrame(
        [("p1", "United States team met China delegates in United States labs.")],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    prim = select_primary(resolve_mentions(candidate_mentions(texts, surf)))
    rows = {r.name: (r.is_primary, r.latitude, r.longitude) for r in prim.collect()}
    assert rows["United States"] == (True, 39.76, -98.5)
    assert rows["China"][0] is False


def test_geotag_full_stage_and_ordering(spark, gazetteer):
    ext = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text", "text": "Pasadena Texas visit", "media_ref": None, "order": 0},
                    {"kind": "image", "text": None, "media_ref": "i://1", "order": 1},
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,order:int>>",
    )
    out = geotag(ext, gazetteer).collect()
    assert len(out) == 1
    locs = out[0].locations
    assert [l.name for l in locs] == ["Pasadena", "Texas"]
    assert [l.is_primary for l in locs] == [True, False]


def test_geotag_multiword_and_alternatenames(spark, gazetteer):
    texts = spark.createDataFrame(
        [("m1", "Reports from USA confirm the findings.")],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    res = resolve_mentions(candidate_mentions(texts, surf))
    rows = res.collect()
    assert len(rows) == 1 and rows[0].geonameid == 6252001  # USA → United States


def test_four_and_five_token_surfaces(spark, gazetteer):
    # MAX_NGRAM=5 recall: GeoNames-style long official names must match
    # and longest-match must shadow every contained shorter surface
    texts = spark.createDataFrame(
        [
            ("l1", "Signed by the United States of America today"),
            ("l2", "Envoys of the Grand Duchy of Upper Borduria arrived"),
        ],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    res = resolve_mentions(candidate_mentions(texts, surf))
    got = {(r.doc_id, r.gram): r.geonameid for r in res.collect()}
    assert got[("l1", "united states of america")] == 6252001
    assert got[("l2", "grand duchy of upper borduria")] == 9200000
    # the contained "united states" 2-gram and "borduria" 1-gram are
    # shadowed by the longer match
    assert len([k for k in got if k[0] == "l1"]) == 1
    assert len([k for k in got if k[0] == "l2"]) == 1


def test_extract_arrow_edge_cases(spark):
    # null spans cell, empty spans array, doc with only media
    from geoparser_spark.schemas import DOCS

    rows = [
        ("d-null", None),
        ("d-empty", []),
        ("d-media", [("image", None, "img://x", 0)]),
        ("d-text", [("text", "  hello   world ", None, 0)]),
    ]
    docs = spark.createDataFrame(rows, DOCS)
    got = {r["doc_id"]: r["spans"] for r in extract(docs).collect()}
    assert got["d-null"] == []
    assert got["d-empty"] == []
    assert [tuple(s) for s in got["d-media"]] == [("image", None, "img://x", 0)]
    assert [tuple(s) for s in got["d-text"]] == [("text", "hello world", None, 0)]


def test_trigram_surfaces_and_text_boundary(spark, gazetteer):
    # 3-token alternatename at the very end of the text (lookahead
    # columns t1/t2 run off the array) and a 3-token name mid-text
    texts = spark.createDataFrame(
        [
            ("b1", "Delegates from the United Mexican States"),
            ("b2", "The State of Texas registry lists it"),
            ("b3", "Pasadena"),          # single token, whole text
            ("b4", "texas"),             # single token at position 0
        ],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    res = resolve_mentions(candidate_mentions(texts, surf))
    got = {(r.doc_id, r.gram): r.geonameid for r in res.collect()}
    assert got[("b1", "united mexican states")] == 3996063  # -> Mexico PCLI
    assert got[("b2", "state of texas")] == 4736286         # -> US ADM1 Texas
    assert got[("b3", "pasadena")] == 5381396
    assert got[("b4", "texas")] == 4736286
    # longest-match: the contained "texas" inside "state of texas" is
    # shadowed, so b2 has exactly one mention
    assert len([k for k in got if k[0] == "b2"]) == 1
