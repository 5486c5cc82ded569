"""Extract stage: interleaved (html|text|pdf_bytes|media) spans →
ordered main-content text + media spans.

Reference dataflow replaced: per-doc HTTP round-trip to a Tika server
(geoparser_app/views.py:125,357-402 — ~0.6 docs/sec sequential) becomes
one stage with two branches, split per doc on one predicate derived
from ``_SPAN_EXTRACTORS``:
  * a doc with a span that needs a Python extractor (a registered kind
    other than ``text``, with non-empty text) takes the Arrow-batched
    ``mapInArrow`` kernel: JVM ships columnar batches to the Python
    worker, the worker parses a whole batch, ships columnar results
    back.  No per-row UDF, no driver loop, no network hop;
  * every other doc — plain text and media passthrough only — is
    extracted by one native Column expression that reproduces the
    kernel's rules, so its text never crosses JVM↔Python.

This module is the one place a span kind meets its extractor
(``_SPAN_EXTRACTORS``), the one place a ``*_bytes`` payload is
base64-decoded, and the one degrade boundary (:func:`extract_span`):
a damaged payload of any kind becomes that span's ``[]``, never an
exception that kills the Arrow task.  Archive entries
(archive_text.py) dispatch through the same call.  The native branch
runs no extractor, so it has nothing to degrade.

Scale notes (100 TB design point):
  * The stage is map-only — zero shuffle.  Upstream, runtime.salted_
    repartition spreads mega-documents (BASELINE skew fixture: 0.1% of
    docs own 100-1000x median span count) across partitions.
  * The two branches read the stage's input twice: where it is not
    behind an exchange, the source is scanned twice (columnar and
    pushed-down, like the mega filter of extract_with_skew_split).
  * ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds Python-worker
    memory per batch regardless of doc size distribution.
  * Catalyst prunes unused columns before the Arrow hop because we
    select exactly (doc_id, spans).
"""

from __future__ import annotations

import base64
import logging
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoparser_spark.operators.html_main import extract_html_blocks
from geoparser_spark.operators.biff_legacy import (
    extract_ppt_text_blocks,
    extract_xls_text_blocks,
)
from geoparser_spark.operators.doc_legacy import extract_doc_text_blocks
from geoparser_spark.operators.email_text import extract_eml_text_blocks
from geoparser_spark.operators.office_text import (
    extract_docx_text_blocks,
    extract_epub_text_blocks,
    extract_odt_text_blocks,
    extract_pptx_text_blocks,
    extract_rtf_text_blocks,
    extract_xlsx_text_blocks,
)
from geoparser_spark.operators.csv_text import extract_csv_text_blocks
from geoparser_spark.operators.markdown_text import extract_markdown_spans
from geoparser_spark.operators.audio_meta import extract_audio_spans
from geoparser_spark.operators.video_meta import extract_video_spans
from geoparser_spark.operators.image_meta import extract_image_spans
from geoparser_spark.operators.pdf_text import extract_pdf_spans
from geoparser_spark.operators.xml_text import extract_xml_text_blocks
from geoparser_spark.operators.archive_text import gz_spans, tar_spans, zip_spans
from geoparser_spark.schemas import EXTRACTED

MEDIA_KINDS = frozenset({"image", "video", "audio", "table"})

_log = logging.getLogger(__name__)


def _text_span(text: str) -> list[tuple]:
    t = " ".join(text.split())
    return [("text", t, None)] if t else []


def _as_text_spans(fn):
    """Lift a blocks extractor (payload → [str]) to the span-triple
    contract (payload → [(kind, text, media_ref)])."""
    def run(payload) -> list[tuple]:
        return [("text", block, None) for block in fn(payload)]
    return run


# Span kind → extractor over the DECODED payload: ``bytes`` for the
# ``*_bytes`` kinds, ``str`` for the rest.  A format lands in the engine
# by registering here (the Tika auto-detect role, geoparser_app/
# views.py:125, resolved from the span's declared kind).
_SPAN_EXTRACTORS: dict = {
    "text": _text_span,
    "html": extract_html_blocks,  # emits (kind, text, media_ref) itself
    "pdf_bytes": extract_pdf_spans,  # text + image-XObject media spans
    "docx_bytes": _as_text_spans(extract_docx_text_blocks),
    "doc_bytes": _as_text_spans(extract_doc_text_blocks),
    "pptx_bytes": _as_text_spans(extract_pptx_text_blocks),
    "xlsx_bytes": _as_text_spans(extract_xlsx_text_blocks),
    "xls_bytes": _as_text_spans(extract_xls_text_blocks),
    "ppt_bytes": _as_text_spans(extract_ppt_text_blocks),
    "epub_bytes": _as_text_spans(extract_epub_text_blocks),
    "odt_bytes": _as_text_spans(extract_odt_text_blocks),
    "rtf": _as_text_spans(extract_rtf_text_blocks),
    "eml": _as_text_spans(extract_eml_text_blocks),
    "xml": _as_text_spans(extract_xml_text_blocks),
    "csv": _as_text_spans(extract_csv_text_blocks),
    "image_bytes": extract_image_spans,  # media span + embedded text
    "audio_bytes": extract_audio_spans,  # media span + embedded tags
    "video_bytes": extract_video_spans,  # media span + embedded tags
    "markdown": extract_markdown_spans,  # text blocks + image-link media spans
    # archive containers walk their entries back through extract_span
    # (Tika's RecursiveParserWrapper role) — see archive_text.py
    "zip_bytes": zip_spans,
    "tar_bytes": tar_spans,  # tar and tar.gz (r:* sniffs)
    "gz_bytes": gz_spans,
}


def extract_span(kind: str, payload: str | bytes, *walk) -> list[tuple]:
    """One registered span → its output triples (kind, text, media_ref).

    ``payload`` is the span's text (base64 for ``*_bytes`` kinds) or an
    archive entry's raw bytes; ``walk`` is the nesting state
    archive_text threads into nested containers.  Any failure — bad
    base64, a truncated container, a codec edge — degrades THIS span to
    ``[]``: the batch, and the span's siblings, carry on."""
    try:
        if kind.endswith("_bytes"):
            if isinstance(payload, str):
                payload = base64.b64decode(payload, validate=False)
        elif isinstance(payload, bytes):
            payload = payload.decode("utf-8", errors="replace")
        return list(_SPAN_EXTRACTORS[kind](payload, *walk))
    except Exception:
        _log.debug("%s span degraded to []", kind, exc_info=True)
        return []


def extract_doc_spans_cols(kinds, texts, refs, offs, lo: int, hi: int) -> list[tuple]:
    """Extraction core over parallel span columns sliced [lo, hi) — the
    Arrow path feeds it flat child columns, no per-span dict.  Spans are
    processed in ``offset`` order (offset is data, never implicit row
    order — SURVEY.md §4.2 ordering discipline).  The sort is stable:
    spans with EQUAL offsets keep input-array order, which callers do
    not control, so their relative order is unspecified.  Returns
    output span tuples (kind, text, media_ref, order)."""
    idx = sorted(range(lo, hi), key=lambda i: offs[i] if offs[i] is not None else 0)
    out: list[tuple] = []
    for i in idx:
        kind = kinds[i] or ""
        text = texts[i]
        media_ref = refs[i]
        if text and kind in _SPAN_EXTRACTORS:
            out.extend(extract_span(kind, text))
        elif media_ref is not None and (kind in MEDIA_KINDS or not text):
            out.append((kind, None, media_ref))
        elif text:
            # unknown text-bearing kind: conservative passthrough
            out.extend(_text_span(text))
    return [(k, t, m, i) for i, (k, t, m) in enumerate(out)]


_SPAN_FIELDS = ("kind", "text", "media_ref", "order")


def extract_doc_spans(spans: list[dict]) -> list[dict]:
    """Dict-shaped view of :func:`extract_doc_spans_cols`: input span
    dicts → ordered output span dicts."""
    if spans is None:  # Arrow hands array cells over as numpy arrays —
        spans = []     # never test their truthiness
    cols = [[s.get(c) for s in spans]
            for c in ("kind", "text", "media_ref", "offset")]
    return [dict(zip(_SPAN_FIELDS, t))
            for t in extract_doc_spans_cols(*cols, 0, len(spans))]


def _extract_arrow_batches(passthrough: tuple[str, ...]):
    """mapInArrow kernel: decode the spans ListArray via its flat child
    columns (one C-loop to_pylist per column — no per-span Python dicts
    on either side of the boundary)."""
    import pyarrow as pa

    out_span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("order", pa.int32()),
            ]
        )
    )

    def kernel(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            spans = rb.column(rb.schema.get_field_index("spans"))
            if isinstance(spans, pa.ChunkedArray):  # defensive; RBs are flat
                spans = spans.combine_chunks()
            lst = spans
            # element offsets into the flattened struct children; null
            # list slots may surface as None — carry the previous offset
            raw = lst.offsets.to_pylist()
            offsets: list[int] = []
            prev = 0
            for o in raw:
                if o is None:
                    o = prev
                offsets.append(o)
                prev = o
            structs = lst.values
            kinds = structs.field("kind").to_pylist()
            texts = structs.field("text").to_pylist()
            refs = structs.field("media_ref").to_pylist()
            offs = structs.field("offset").to_pylist()
            if lst.null_count:
                valid = lst.is_valid().to_pylist()
            else:
                valid = None
            results = [
                extract_doc_spans_cols(kinds, texts, refs, offs,
                                       offsets[i], offsets[i + 1])
                if valid is None or valid[i]
                else []
                for i in range(len(lst))
            ]
            arrays = [rb.column(rb.schema.get_field_index("doc_id"))]
            names = ["doc_id"]
            for c in passthrough:
                arrays.append(rb.column(rb.schema.get_field_index(c)))
                names.append(c)
            arrays.append(pa.array(results, type=out_span_type))
            names.append("spans")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return kernel


#: exactly the characters ``str.isspace()`` accepts — the separators
#: ``str.split()`` (so :func:`_text_span`) collapses.  Handed to
#: ``F.regexp_replace`` as a Python string: the SQL parser's literal
#: escapes would rewrite the ``\x0b``-style characters.
_WS = ("[\t\n\x0b\x0c\r\x1c-\x1f \x85\xa0\u1680\u2000-\u200a"
       "\u2028\u2029\u202f\u205f\u3000]+")

#: span kinds whose non-empty text only a Python extractor can read
_PYTHON_KINDS = sorted(set(_SPAN_EXTRACTORS) - {"text"})


def _needs_python(spans: Column) -> Column:
    """Whether a doc holds a span that must go through the Arrow kernel:
    a registered kind other than ``text`` with non-empty text.  Never
    null, so it and its negation split the docs exactly."""
    return F.coalesce(
        F.exists(spans, lambda s: s["kind"].isin(_PYTHON_KINDS)
                 & (F.length(s["text"]) > 0)),
        F.lit(False))


def _native_spans(spans: Column) -> Column:
    """:func:`extract_doc_spans_cols` as one Column expression, for docs
    :func:`_needs_python` rejects: the same stable offset sort, media
    passthrough, whitespace-normalized text, empty-text drop and dense
    ``order``; a null spans cell gives ``[]``."""
    def offset(s):
        return F.coalesce(s["offset"], F.lit(0))

    def out_span(s):
        kind, text, ref = s["kind"], s["text"], s["media_ref"]
        has_text = F.coalesce(F.length(text) > 0, F.lit(False))
        null = F.lit(None).cast("string")
        return (
            F.when(ref.isNotNull() & (kind.isin(*MEDIA_KINDS) | ~has_text),
                   F.struct(F.coalesce(kind, F.lit("")).alias("kind"),
                            null.alias("text"), ref.alias("media_ref")))
            .when(has_text,
                  F.struct(F.lit("text").alias("kind"),
                           F.trim(F.regexp_replace(text, _WS, " ")).alias("text"),
                           null.alias("media_ref"))))

    ordered = F.array_sort(spans, lambda l, r: (
        F.when(offset(l) < offset(r), -1)
        .when(offset(l) > offset(r), 1)
        .otherwise(0)))
    kept = F.filter(F.transform(ordered, out_span), lambda s: s.isNotNull() & (
        s["media_ref"].isNotNull() | (s["text"] != "")))
    dense = F.transform(kept, lambda s, i: F.struct(
        s["kind"], s["text"], s["media_ref"], i.alias("order")))
    return F.coalesce(dense, F.array()).cast(EXTRACTED["spans"].dataType)


def _extract_arrow(docs: DataFrame, passthrough: tuple[str, ...]) -> DataFrame:
    """Every doc of ``docs`` through the ``mapInArrow`` kernel."""
    from pyspark.sql import types as T

    fields = [EXTRACTED["doc_id"]]
    fields += [docs.schema[c] for c in passthrough]
    fields.append(EXTRACTED["spans"])
    return docs.select("doc_id", *passthrough, "spans").mapInArrow(
        _extract_arrow_batches(tuple(passthrough)), schema=T.StructType(fields)
    )


def extract(docs: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """docs(doc_id, spans[SPAN_IN]) → extracted(doc_id, spans[SPAN_OUT]).

    ``passthrough`` columns (e.g. chunk_id from
    plans.runtime.split_mega_docs) ride along unchanged.

    Each doc takes one of two branches, split by :func:`_needs_python`:
      * a doc holding a span that needs a Python extractor goes through
        ``mapInArrow``, so the only per-span Python cost is the parse
        itself, not pandas/dict marshalling, and every such span meets
        :func:`extract_span`, the one degrade boundary;
      * every other doc — text and media spans only — is extracted by
        :func:`_native_spans` in the JVM: its text never crosses into
        Python.
    Both branches give the same spans for a doc the native one takes.
    Known cost: the union hands a partitioned write up to two tasks'
    files per input partition, one from each branch (the mixed_job
    workload written as 16 files: 313 files under extracted/ instead
    of 249)."""
    python = _needs_python(F.col("spans"))
    native = docs.where(~python).select(
        "doc_id", *passthrough, _native_spans(F.col("spans")).alias("spans"))
    return _extract_arrow(docs.where(python), passthrough).unionByName(native)


def extract_with_skew_split(docs: DataFrame, num_partitions: int,
                            max_spans: int = 64, seed: int = 42,
                            redistribute: str = "mega-only") -> DataFrame:
    """Skew-proof extract: mega-documents (the 0.1%-of-docs 100-1000x
    span-count fixture) are split into <= max_spans chunks BEFORE a
    salted repartition, so no single task inherits a whole mega-doc;
    chunks are extracted independently and reassembled in chunk order.
    This is the composition job.py / bench use (SURVEY.md §7 skew note).

    ``redistribute="mega-only"`` (default) shuffles ONLY the mega-doc
    chunks: single-chunk docs — 99.9% of the corpus — extract where
    they sit (zero exchanges end-to-end: the salted repartition AND the
    reassemble groupBy both apply to the 0.1% branch alone, and a mega
    doc that needs no Python extractor skips them too).  At 100 TB
    this converts two full-corpus shuffles into two 0.1%-sized ones;
    parallelism for the map branch comes from the source's own split
    planning (parquet scans split at maxPartitionBytes), which is the
    right lever at scale.  Measured at 20k docs/local[32]: 3.8 s →
    1.3 s (the full-corpus exchange alone was 2.3 s).  The price is a
    second pass over the source for the mega filter; scans are
    columnar + pushed-down and strictly cheaper than an exchange
    (write + read + row serialization) of the same bytes.

    ``redistribute="all"`` keeps the original single-branch shape for
    sources whose own partitioning is pathological (a handful of giant
    row-groups, heavily skewed file sizes) where the scan cannot
    provide parallelism and the up-front full shuffle is worth paying.
    """
    from geoparser_spark.plans.runtime import (
        reassemble_chunks, salted_repartition, split_mega_docs)

    if redistribute not in ("mega-only", "mega-only-strict", "all"):
        raise ValueError(
            "redistribute must be 'mega-only', 'mega-only-strict' or "
            f"'all', got {redistribute!r}")
    # adaptive guard: mega-only leans on the SOURCE for map parallelism,
    # which holds at target scale (a 100 TB scan yields thousands of
    # maxPartitionBytes splits per executor) but fails on small inputs
    # whose files the scan packs into a handful of fat splits
    # (openCostInBytes coalescing) — there the full salted shuffle is
    # cheap and buys back task-granularity load balancing, so fall back
    # WITH a log line (callers that must pin the zero-shuffle plan pass
    # "mega-only-strict").
    if redistribute == "mega-only":
        n_src = docs.rdd.getNumPartitions()
        if n_src < max(2, num_partitions // 2):
            _log.warning(
                "extract_with_skew_split: source provides only %d scan "
                "partitions for %d requested — falling back to "
                "redistribute='all' (pass 'mega-only-strict' to pin "
                "the zero-shuffle plan)", n_src, num_partitions)
            redistribute = "all"
    elif redistribute == "mega-only-strict":
        redistribute = "mega-only"

    def salted(chunks: DataFrame) -> DataFrame:
        return salted_repartition(chunks, num_partitions, ("doc_id", "chunk_id"), seed)

    if redistribute == "all":
        chunks = salted(split_mega_docs(docs, max_spans))
        return reassemble_chunks(extract(chunks, passthrough=("chunk_id",)))
    # singles skip the chunking machinery entirely: n_chunks == 1 iff
    # size(spans) <= max_spans (F.size is -1 for NULL — still single),
    # and the extract kernel itself processes spans in offset order, so
    # the split's pre-sort adds nothing for an unsplit doc.  (Relative
    # order of EQUAL offsets is unspecified either way — the documented
    # stable-sort caveat on extract_doc_spans_cols.)
    # A mega doc that needs no Python extractor joins them: the native
    # projection costs no Python worker, so it needs no spread, and its
    # stable whole-doc sort gives what split + reassemble would.  The
    # chunks of the other mega docs go straight to the Arrow kernel:
    # extract()'s routing filter would be pushed below the salt and
    # salt each branch separately.
    mega = (F.size("spans") > max_spans) & _needs_python(F.col("spans"))
    singles = docs.where(~mega)
    chunks = salted(split_mega_docs(docs.where(mega), max_spans))
    ex_mega = reassemble_chunks(_extract_arrow(chunks, ("chunk_id",)))
    return extract(singles).unionByName(ex_mega)
