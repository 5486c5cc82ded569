"""The Spark side of the benchmark: session, inputs on disk, the jobs a
user runs, the traced layer pass and the extract-kernel timings.

Only public functions of the program are called:
``plans/runtime.py`` (resumable_stage, split_mega_docs, with_part_id,
read_done_parts), ``operators/extract.py`` (extract_with_skew_split,
extract_doc_spans_cols) and ``operators/geotag.py`` (geotag and its
sub-layers).  Nothing here changes how they run.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ledger import Tracer

# job.py runs with --n-logical-parts 256; a few-thousand-doc corpus
# spread over 256 parts writes ~8 docs per part and the job turns into
# file-system overhead, so the benchmark passes 16, as the job's own
# run recipe does.  Every other job.py option keeps its default.
LOGICAL_PARTS = 16
MAX_SPANS = 64  # split_mega_docs / extract_with_skew_split default
DRIVER_MEMORY = "1g"

_SPAN_IN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
_DOCS = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                   pa.field("spans", pa.list_(_SPAN_IN))])

# every span kind the workloads feed the extract stage
INPUT_KINDS = ("html", "text", "pdf_bytes", "docx_bytes", "doc_bytes",
               "pptx_bytes", "xlsx_bytes", "epub_bytes", "rtf", "eml", "xml",
               "image_bytes", "csv", "image", "video")


def task_threads() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def start_session(work: str, eventlog: str | None):
    """A session on local[$(nproc)] whose scratch files stay in ``work``.
    The event log is on only for traced runs."""
    from geoparser_spark.session import get_spark

    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xms at the -Xmx that SPARK_DRIVER_MEM sets: a heap that never
        # resizes keeps peak_rss_mb from following when G1 grows it
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{task_threads()}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def write_corpus(docs: list[dict], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=_DOCS),
                   os.path.join(path, "part-00000.parquet"))


def write_geonames_tsv(rows: list[dict], path: str) -> None:
    """Gazetteer rows in the 19-column allCountries.txt layout."""
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            cols = [str(r["geonameid"]), r["name"], r["asciiname"],
                    r["alternatenames"] or "", str(r["latitude"]),
                    str(r["longitude"]), r["feature_class"], r["feature_code"],
                    r["country_code"], "", r["admin1_code"], r["admin2_code"] or "",
                    "", "", str(r["population"]), "", "0", r["timezone"] or "",
                    "2026-01-01"]
            f.write("\t".join(cols) + "\n")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


@dataclass
class Job:
    """One workload's inputs on disk and the calls ``job.py run`` makes
    over them (without --tiles)."""

    spark: object
    corpus_dir: str
    gazetteer_tsv: str

    @property
    def n_part(self) -> int:
        return self.spark.sparkContext.defaultParallelism * 4

    def load_gazetteer(self):
        from geoparser_spark.sources.geonames import read_geonames_tsv

        return read_geonames_tsv(self.spark, self.gazetteer_tsv)

    def run(self, out_dir: str) -> int:
        """One job; returns the docs in its extracted output."""
        from geoparser_spark.operators.extract import extract_with_skew_split
        from geoparser_spark.operators.geotag import geotag
        from geoparser_spark.plans.runtime import resumable_stage

        spark, n_part = self.spark, self.n_part
        docs = spark.read.parquet(self.corpus_dir)
        extracted = resumable_stage(
            spark, docs,
            lambda df: extract_with_skew_split(df, n_part, redistribute="mega-only"),
            output_dir=os.path.join(out_dir, "extracted"),
            manifest_dir=os.path.join(out_dir, "manifest"),
            run_id="bench", n_parts=LOGICAL_PARTS,
        )
        tagged = geotag(extracted, self.load_gazetteer(), broadcast_surfaces="auto")
        tagged.write.mode("overwrite").parquet(os.path.join(out_dir, "geotagged"))
        return spark.read.parquet(os.path.join(out_dir, "extracted")).count()


def read_outputs(out_dir: str) -> tuple[dict, dict, int]:
    """(extracted, geotagged, manifest rows) of a job.py-path output."""
    ex = pq.read_table(os.path.join(out_dir, "extracted"),
                       columns=["doc_id", "spans"]).to_pylist()
    extracted = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                               for s in r["spans"] or ()] for r in ex}
    if len(extracted) != len(ex):
        extracted["<duplicate doc_id rows in extracted output>"] = []
    gt = pq.read_table(os.path.join(out_dir, "geotagged")).to_pylist()
    geotagged = {r["doc_id"]: [(loc["name"], loc["latitude"], loc["longitude"],
                                loc["geonameid"], loc["is_primary"], loc["score"])
                               for loc in r["locations"] or ()] for r in gt}
    manifest_rows = pq.read_table(os.path.join(out_dir, "manifest")).num_rows
    return extracted, geotagged, manifest_rows


# ----------------------------------------------------------- traced pass

def traced_pass(job: Job, tracer: Tracer, out_dir: str) -> dict[str, float]:
    """Calls each layer inside a span.  The layer's input is persisted
    and counted before its span opens; inside, the layer's output is
    materialized by a noop write.  Returns the per-layer counts; span
    times stay in ``tracer``."""
    from pyspark.sql import functions as F

    from geoparser_spark.operators.extract import extract_with_skew_split
    from geoparser_spark.operators.geotag import (
        build_surface_forms, candidate_mentions, doc_texts, geotag,
        normalize_text, resolve_mentions, select_primary)
    from geoparser_spark.plans.runtime import (
        read_done_parts, resumable_stage, split_mega_docs, with_part_id)

    spark = job.spark
    m: dict[str, float] = {}

    def layer(span: str, make):
        """Time ``make()`` materialized; return it persisted and counted."""
        with tracer.span(span):
            df = make()
            df.write.format("noop").mode("overwrite").save()
        df.persist()
        return df, df.count()

    def total(df, expr) -> int:
        return df.select(expr).first()[0] or 0

    with tracer.span("trace.pass"):
        docs, m["extract.docs_in"] = layer("input.docs", lambda: spark.read.parquet(job.corpus_dir))
        m["extract.spans_in"] = total(docs, F.sum(F.size("spans")))
        gaz, _ = layer("input.gazetteer", job.load_gazetteer)

        mega, m["runtime.mega_chunks"] = layer("runtime.split_mega_docs", lambda: split_mega_docs(
            docs.where(F.size("spans") > MAX_SPANS), MAX_SPANS))
        # Spark's cache manager would serve any later plan that contains
        # a persisted one from the cache: keep only a layer's own input
        mega.unpersist()
        ex, _ = layer("extract.stage", lambda: extract_with_skew_split(docs, job.n_part))
        m["extract.spans_out"] = total(ex, F.sum(F.size("spans")))

        out_ex = os.path.join(out_dir, "extracted")
        manifest = os.path.join(out_dir, "manifest")
        with tracer.span("runtime.resumable_stage"):
            resumable_stage(
                spark, docs, lambda todo: ex.join(todo.select("doc_id"), "doc_id", "left_semi"),
                output_dir=out_ex, manifest_dir=manifest, run_id="trace",
                n_parts=LOGICAL_PARTS)
        m["runtime.bytes_written"] = dir_bytes(out_ex)
        m["runtime.manifest_rows"] = spark.read.parquet(manifest).count()
        m["runtime.resume_todo_parts"] = (
            with_part_id(docs, n_parts=LOGICAL_PARTS)
            .join(read_done_parts(spark, manifest), "part_id", "left_anti")
            .select("part_id").distinct().count())

        surf, m["geotag.surfaces"] = layer(
            "geotag.build_surface_forms", lambda: build_surface_forms(gaz))
        texts, _ = layer("geotag.doc_texts", lambda: doc_texts(ex))
        m["geotag.tokens"] = total(
            texts, F.sum(F.size(F.split(normalize_text(F.col("text")), " "))))
        cands, m["geotag.candidates"] = layer(
            "geotag.candidate_mentions",
            lambda: candidate_mentions(texts, surf, broadcast_surfaces="auto"))
        m["geotag.probe_hit_ratio"] = m["geotag.candidates"] / max(m["geotag.tokens"], 1)
        res, m["geotag.resolved"] = layer(
            "geotag.resolve_mentions", lambda: resolve_mentions(cands))
        prim, m["geotag.entities"] = layer(
            "geotag.select_primary", lambda: select_primary(res))
        for df in (gaz, surf, texts, cands, res, prim):
            df.unpersist()
        # the job reads the gazetteer itself, as job.py does
        with tracer.span("geotag.plan"):
            tagged = geotag(ex, job.load_gazetteer(), broadcast_surfaces="auto")
        with tracer.span("geotag.stage"):
            tagged.write.format("noop").mode("overwrite").save()
    docs.unpersist()
    ex.unpersist()
    return m


KERNEL_SAMPLE = 200  # spans per kind, in corpus order


def kernel_ledger(docs: list[dict]) -> dict[str, float]:
    """Single-threaded, in-process ``extract_doc_spans_cols`` over the
    workload's first KERNEL_SAMPLE input spans of each kind, one span
    per call."""
    from geoparser_spark.operators.extract import extract_doc_spans_cols

    out: dict[str, float] = {}
    by_kind: dict[str, list[dict]] = {}
    for d in docs:
        for s in d["spans"]:
            by_kind.setdefault(s["kind"], []).append(s)
    for kind in INPUT_KINDS:
        spans = by_kind.get(kind, [])[:KERNEL_SAMPLE]
        seconds, produced, payloads, empty = 0.0, 0, 0, 0
        for s in spans:
            args = ([s["kind"]], [s["text"]], [s["media_ref"]], [s["offset"]])
            t0 = time.perf_counter()
            res = extract_doc_spans_cols(*args, 0, 1)
            seconds += time.perf_counter() - t0
            produced += len(res)
            if s["text"]:
                payloads += 1
                empty += not res
        out[f"extract.kernel.{kind}.s"] = seconds
        out[f"extract.kernel.{kind}.spans_out"] = produced
        out[f"extract.kernel.{kind}.empty_share"] = empty / payloads if payloads else 0.0
    return out
