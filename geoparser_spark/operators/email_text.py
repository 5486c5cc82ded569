"""RFC-822/MIME email byte streams → ordered text blocks.

The reference routes any uploaded byte stream through Tika auto-detect
(reference: geoparser_app/views.py:125), which parses message/rfc822.
This module is the stdlib equivalent, same contract as office_text /
pdf_text: ordered text blocks; damage that the stdlib parser rejects
raises and degrades at the dispatch boundary (extract.extract_span).

Block order: subject first (if any), then body parts in MIME walk
order.  ``multipart/alternative`` containers contribute ONE branch —
text/plain preferred, else the last text/* alternative (RFC 2046 §5.1.4
orders alternatives by increasing faithfulness).  text/html parts run
through the same html main-content extractor as html spans; non-text
parts (images, applications) are skipped.  Transfer encodings
(base64, quoted-printable) and part charsets decode via the stdlib
``email`` package; undecodable bytes degrade via errors='replace'.
"""

from __future__ import annotations

import email
import email.message
import email.policy


def _part_blocks(part: "email.message.Message") -> list[str]:
    ctype = part.get_content_type()
    if part.is_multipart():
        if ctype == "multipart/alternative":
            subparts = part.get_payload()
            chosen = None
            for sp in subparts:
                sct = sp.get_content_type()
                if sct == "text/plain" and chosen is None:
                    chosen = sp
            if chosen is None:
                for sp in reversed(subparts):
                    if sp.get_content_maintype() in ("text", "multipart"):
                        chosen = sp
                        break
            return _part_blocks(chosen) if chosen is not None else []
        out: list[str] = []
        for sp in part.get_payload():
            out.extend(_part_blocks(sp))
        return out
    if ctype == "text/plain":
        text = _decode_text(part)
        # one block per blank-line-separated paragraph
        blocks = []
        for para in text.replace("\r\n", "\n").split("\n\n"):
            p = " ".join(para.split())
            if p:
                blocks.append(p)
        return blocks
    if ctype == "text/html":
        from geoparser_spark.operators.html_main import extract_html_blocks

        html = _decode_text(part)
        return [t for k, t, m in extract_html_blocks(html) if k == "text" and t]
    return []


def _decode_text(part: "email.message.Message") -> str:
    payload = part.get_payload(decode=True)
    if payload is None:
        raw = part.get_payload()
        return raw if isinstance(raw, str) else ""
    charset = part.get_content_charset() or "utf-8"
    try:
        return payload.decode(charset, "replace")
    except LookupError:
        return payload.decode("utf-8", "replace")


def extract_eml_text_blocks(eml: str | bytes) -> list[str]:
    """message/rfc822 → [subject?, *body blocks].  Malformed MIME
    raises; extract.extract_span degrades it to []."""
    if isinstance(eml, bytes):
        msg = email.message_from_bytes(eml)
    else:
        msg = email.message_from_string(eml)
    blocks: list[str] = []
    subj = msg.get("Subject")
    if subj:
        s = " ".join(str(subj).split())
        if s:
            blocks.append(s)
    blocks.extend(_part_blocks(msg))
    return blocks


def make_mini_eml(subject: str, paragraphs: list[str],
                  html_body: str | None = None) -> str:
    """Deterministic EML fixture.  Fixed MIME boundary (the stdlib
    generator randomizes boundaries, which would break the corpus
    bit-identical-regeneration promise)."""
    plain = "\n\n".join(paragraphs)
    if html_body is None:
        return f"Subject: {subject}\nMIME-Version: 1.0\nContent-Type: text/plain; charset=utf-8\n\n{plain}\n"
    b = "----=_fixture_boundary_0001"
    return (
        f"Subject: {subject}\nMIME-Version: 1.0\n"
        f'Content-Type: multipart/alternative; boundary="{b}"\n\n'
        f"--{b}\nContent-Type: text/plain; charset=utf-8\n\n{plain}\n"
        f"--{b}\nContent-Type: text/html; charset=utf-8\n\n{html_body}\n"
        f"--{b}--\n"
    )
