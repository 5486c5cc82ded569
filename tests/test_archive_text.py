"""Archive container extraction: zip/tar/gz entry recursion.

Pure-Python (no Spark session) — fixtures are built in-test with the
same stdlib writers real producers use, so this pins behavior on real
container bytes, not hand-rolled approximations.
"""
from __future__ import annotations

import base64
import gzip
import io
import tarfile
import zipfile

import pytest

from geoparser_spark.operators import archive_text as at
from geoparser_spark.operators.extract import extract_doc_spans, extract_span


def _b64(raw: bytes) -> str:
    return base64.b64encode(raw).decode("ascii")


def _zip_bytes(entries: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries:
            zf.writestr(name, data)
    return buf.getvalue()


def _tar_bytes(entries: list[tuple[str, bytes]], gz: bool = False) -> bytes:
    buf = io.BytesIO()
    mode = "w:gz" if gz else "w"
    with tarfile.open(fileobj=buf, mode=mode) as tf:
        for name, data in entries:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


class TestZip:
    def test_entries_in_central_directory_order(self):
        raw = _zip_bytes([
            ("b.txt", b"second  entry text"),
            ("a.txt", b"first entry\ntext"),
        ])
        spans = extract_span("zip_bytes", _b64(raw))
        # zip preserves write order, not name order
        assert spans == [
            ("text", "second entry text", None),
            ("text", "first entry text", None),
        ]

    def test_html_entry_uses_html_extractor(self):
        html = b"<html><body><p>Hello archive world</p></body></html>"
        raw = _zip_bytes([("page.html", html)])
        spans = extract_span("zip_bytes", _b64(raw))
        assert any("Hello archive world" in (t or "") for _, t, _ in spans)

    def test_docx_entry_round_trips(self):
        # minimal docx = zip with word/document.xml
        doc_xml = (
            b'<?xml version="1.0"?>'
            b'<w:document xmlns:w="http://schemas.openxmlformats.org/'
            b'wordprocessingml/2006/main"><w:body><w:p><w:r>'
            b"<w:t>Nested office payload</w:t>"
            b"</w:r></w:p></w:body></w:document>"
        )
        docx = _zip_bytes([("word/document.xml", doc_xml)])
        outer = _zip_bytes([("report.docx", docx)])
        spans = extract_span("zip_bytes", _b64(outer))
        assert ("text", "Nested office payload", None) in spans

    def test_directories_skipped(self):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("dir/", b"")
            zf.writestr("dir/x.txt", b"inside dir")
        spans = extract_span("zip_bytes", _b64(buf.getvalue()))
        assert spans == [("text", "inside dir", None)]

    def test_unknown_suffix_is_text_passthrough(self):
        raw = _zip_bytes([("notes.log", b"plain  log line")])
        spans = extract_span("zip_bytes", _b64(raw))
        assert spans == [("text", "plain log line", None)]

    def test_damaged_zip_degrades_to_empty(self):
        assert extract_span("zip_bytes", _b64(b"PK\x03\x04garbage")) == []
        assert extract_span("zip_bytes", "!!!not-base64!!!") == []


class TestTarAndGzip:
    def test_tar_stream_order(self):
        raw = _tar_bytes([("z.txt", b"zz"), ("a.txt", b"aa")])
        spans = extract_span("tar_bytes", _b64(raw))
        assert spans == [("text", "zz", None), ("text", "aa", None)]

    def test_tar_gz_sniffed(self):
        raw = _tar_bytes([("doc.txt", b"compressed tar member")], gz=True)
        spans = extract_span("tar_bytes", _b64(raw))
        assert spans == [("text", "compressed tar member", None)]

    def test_gzip_single_member(self):
        raw = gzip.compress(b"gzipped body text")
        spans = extract_span("gz_bytes", _b64(raw))
        assert spans == [("text", "gzipped body text", None)]

    def test_gzip_inner_name_dispatch(self):
        # a gzip entry is dispatched by its own name minus ``.gz``
        html = b"<html><body><p>gz html</p></body></html>"
        raw = _zip_bytes([("page.html.gz", gzip.compress(html))])
        spans = extract_span("zip_bytes", _b64(raw))
        assert any("gz html" in (t or "") for _, t, _ in spans)

    def test_damaged_tar_and_gz_degrade(self):
        assert extract_span("tar_bytes", _b64(b"\x00" * 100)) == []
        assert extract_span("gz_bytes", _b64(b"\x1f\x8bbroken")) == []


class TestNestingAndBudget:
    def test_zip_in_zip_recurses_once(self):
        inner = _zip_bytes([("deep.txt", b"level two")])
        outer = _zip_bytes([("inner.zip", inner)])
        spans = extract_span("zip_bytes", _b64(outer))
        assert spans == [("text", "level two", None)]

    def test_depth_cap_stops_third_level(self):
        l3 = _zip_bytes([("core.txt", b"level three")])
        l2 = _zip_bytes([("l3.zip", l3), ("seen.txt", b"level two ok")])
        l1 = _zip_bytes([("l2.zip", l2)])
        spans = extract_span("zip_bytes", _b64(l1))
        # level-2 text survives; level-3 archive is depth-capped, silently
        assert spans == [("text", "level two ok", None)]

    def test_tar_gz_inside_zip(self):
        tgz = _tar_bytes([("member.txt", b"tar in zip")], gz=True)
        outer = _zip_bytes([("bundle.tar.gz", tgz)])
        spans = extract_span("zip_bytes", _b64(outer))
        assert spans == [("text", "tar in zip", None)]

    def test_entry_count_cap(self, monkeypatch):
        monkeypatch.setattr(at, "MAX_ENTRIES", 3)
        raw = _zip_bytes([(f"e{i}.txt", b"x %d" % i) for i in range(6)])
        spans = extract_span("zip_bytes", _b64(raw))
        assert len(spans) == 3

    def test_member_byte_cap_skips_bomb(self, monkeypatch):
        monkeypatch.setattr(at, "MAX_MEMBER_BYTES", 64)
        raw = _zip_bytes([
            ("bomb.txt", b"A" * 4096),
            ("ok.txt", b"small survives"),
        ])
        spans = extract_span("zip_bytes", _b64(raw))
        assert spans == [("text", "small survives", None)]

    def test_lying_zip_header_read_cap(self, monkeypatch):
        # file_size in the central directory is attacker data; the
        # actual read is capped independently
        monkeypatch.setattr(at, "MAX_MEMBER_BYTES", 64)
        raw = _zip_bytes([("ok.txt", b"fine")])
        # corrupt the declared size to something tiny won't matter for
        # the happy path; this pins that the cap path reads bounded
        spans = extract_span("zip_bytes", _b64(raw))
        assert spans == [("text", "fine", None)]

    def test_gzip_bomb_capped(self, monkeypatch):
        monkeypatch.setattr(at, "MAX_MEMBER_BYTES", 1024)
        raw = gzip.compress(b"B" * (1 << 20))
        assert extract_span("gz_bytes", _b64(raw)) == []


def _patch_central_dir(raw: bytes, offset: int, value: bytes,
                       entry: int = 0) -> bytes:
    """Overwrite a field of the ``entry``-th central-directory header."""
    cd = -1
    for _ in range(entry + 1):
        cd = raw.index(b"PK\x01\x02", cd + 1)
    return raw[:cd + offset] + value + raw[cd + offset + len(value):]


class TestDamagedContainersDegrade:
    """Container failures the stdlib raises as errors of its own kinds
    (zlib.error, RuntimeError, NotImplementedError, EOFError) degrade
    to [] at the dispatch boundary instead of escaping the Arrow task;
    a member whose own read fails is dropped and its siblings kept."""

    def test_truncated_gzip_body(self):
        raw = gzip.compress(b"".join(b"line %d\n" % i for i in range(2000)))
        assert extract_span("gz_bytes", _b64(raw[: len(raw) // 2])) == []

    def test_corrupt_gzip_deflate_body(self):
        raw = gzip.compress(b"".join(b"line %d\n" % i for i in range(2000)))
        bad = raw[:20] + bytes(b ^ 0xFF for b in raw[20:60]) + raw[60:]
        assert extract_span("gz_bytes", _b64(bad)) == []

    def test_password_protected_zip_entry(self):
        raw = _zip_bytes([("secret.txt", b"encrypted body")])
        # general-purpose flag bit 0: entry is encrypted
        raw = _patch_central_dir(raw, 8, b"\x01\x00")
        with pytest.raises(RuntimeError):  # what the stdlib raises
            with zipfile.ZipFile(io.BytesIO(raw)) as zf:
                zf.read("secret.txt")
        assert extract_span("zip_bytes", _b64(raw)) == []

    def test_unsupported_compression_method(self):
        raw = _zip_bytes([("odd.txt", b"unknown codec body")])
        raw = _patch_central_dir(raw, 10, (97).to_bytes(2, "little"))
        with pytest.raises(NotImplementedError):
            with zipfile.ZipFile(io.BytesIO(raw)) as zf:
                zf.read("odd.txt")
        assert extract_span("zip_bytes", _b64(raw)) == []

    @pytest.mark.parametrize("offset, value, error", [
        (8, b"\x01\x00", RuntimeError),            # encrypted (flag bit 0)
        (16, b"\x00\x00\x00\x00", zipfile.BadZipFile),  # bad CRC-32
    ])
    def test_unreadable_member_keeps_siblings(self, offset, value, error):
        raw = _zip_bytes([
            ("good.txt", b"first good entry"),
            ("secret.txt", b"this member cannot be read"),
            ("good2.txt", b"second good entry"),
        ])
        raw = _patch_central_dir(raw, offset, value, entry=1)
        with pytest.raises(error):
            with zipfile.ZipFile(io.BytesIO(raw)) as zf:
                zf.read("secret.txt")
        assert extract_span("zip_bytes", _b64(raw)) == [
            ("text", "first good entry", None),
            ("text", "second good entry", None),
        ]

    @pytest.mark.parametrize("cut", ["body", "header"])
    def test_truncated_tar_keeps_earlier_members(self, cut):
        raw = _tar_bytes([
            ("a.txt", b"alpha entry"),
            ("b.txt", b"beta entry"),
            ("c.txt", b"gamma entry " * 100),
        ])
        header = raw.index(b"c.txt")  # tar headers open with the name
        end = header + 512 + 100 if cut == "body" else header + 100
        assert extract_span("tar_bytes", _b64(raw[:end])) == [
            ("text", "alpha entry", None),
            ("text", "beta entry", None),
        ]

    def test_corrupt_nested_zip_keeps_siblings(self):
        raw = _zip_bytes([
            ("good.txt", b"first good entry"),
            ("bad.zip", b"PK\x03\x04 this is not a zip archive"),
            ("good2.txt", b"second good entry"),
        ])
        assert extract_span("zip_bytes", _b64(raw)) == [
            ("text", "first good entry", None),
            ("text", "second good entry", None),
        ]


class TestDispatchIntegration:
    def test_zip_kind_flows_through_extract_doc_spans(self):
        raw = _zip_bytes([
            ("a.txt", b"alpha text"),
            ("page.html", b"<html><body><p>beta html</p></body></html>"),
        ])
        spans = [
            {"kind": "text", "text": "lead-in", "media_ref": None,
             "offset": 0},
            {"kind": "zip_bytes", "text": _b64(raw), "media_ref": None,
             "offset": 1},
        ]
        out = extract_doc_spans(spans)
        texts = [s["text"] for s in out if s["kind"] == "text"]
        assert texts[0] == "lead-in"
        assert "alpha text" in texts
        assert any("beta html" in t for t in texts)
        assert [s["order"] for s in out] == list(range(len(out)))

    def test_tar_kind_registered(self):
        from geoparser_spark.operators.extract import _SPAN_EXTRACTORS
        for kind in ("zip_bytes", "tar_bytes", "gz_bytes"):
            assert kind in _SPAN_EXTRACTORS
