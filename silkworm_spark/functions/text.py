"""Body decoding + HTML detection.

Charset cascade mirrors the reference (response.py:120-269):
BOM → Content-Type charset → <meta>/XML-decl regex in the first 4 KiB →
strict-utf-8 probe → charset-normalizer scored detection (the same
library the reference uses, import-gated) → windows-1252 → utf-8-replace.

HTML detection mirrors http.py:177-195: content-type contains "html",
or the first 2048 bytes contain ``<html``/``<!doctype``, or ``text/*``
with no NUL byte in the sniff window. Exposed both as a pure-column
expression (JVM-side, codegen'd) and as a Python helper for UDF reuse.
"""

from __future__ import annotations

import codecs
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_BOMS: list[tuple[bytes, str]] = [
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
]
_CHARSET_HEADER_RE = re.compile(r"charset\s*=\s*[\"']?([\w.:-]+)", re.I)
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?([\w.:-]+)", re.I
)
_XML_DECL_RE = re.compile(rb"<\?xml[^>]+encoding\s*=\s*[\"']([\w.:-]+)[\"']", re.I)
_SNIFF = 2048
_META_WINDOW = 4096

# the reference accepts a scored guess only from this web-encoding set
# (response.py:46-100 _PREFERRED_WEB_ENCODINGS); anything else falls
# through to windows-1252
_PREFERRED_WEB_ENCODINGS = {
    "utf-8", "utf-8-sig", "utf-16", "utf-16-be", "utf-16-le",
    "utf-32", "utf-32-be", "utf-32-le",
    "big5", "euc-jp", "euc-kr", "gb18030", "gb2312", "gbk", "ibm866",
    "iso-8859-1", "iso-8859-2", "iso-8859-3", "iso-8859-4", "iso-8859-5",
    "iso-8859-6", "iso-8859-7", "iso-8859-8", "iso-8859-10", "iso-8859-13",
    "iso-8859-14", "iso-8859-15", "iso-8859-16", "koi8-r", "koi8-u",
    "mac-cyrillic", "macintosh", "shift-jis",
    "windows-874", "windows-1250", "windows-1251", "windows-1252",
    "windows-1253", "windows-1254", "windows-1255", "windows-1256",
    "windows-1257", "windows-1258",
    "cp1250", "cp1251", "cp1252", "cp1253", "cp1254", "cp1255",
    "cp1256", "cp1257", "cp1258",
}


def detect_encoding(body: bytes | None, content_type: str | None) -> str:
    if not body:
        return "utf-8"
    for bom, enc in _BOMS:
        if body.startswith(bom):
            return enc
    if content_type:
        m = _CHARSET_HEADER_RE.search(content_type)
        if m:
            try:
                codecs.lookup(m.group(1))
                return m.group(1).lower()
            except LookupError:
                pass
    head = body[:_META_WINDOW]
    m = _META_CHARSET_RE.search(head) or _XML_DECL_RE.search(head)
    if m:
        try:
            enc = m.group(1).decode("ascii", "ignore")
            codecs.lookup(enc)
            return enc.lower()
        except LookupError:
            pass
    try:
        body.decode("utf-8")
        return "utf-8"
    except UnicodeDecodeError:
        pass
    # scored fallback — same library as the reference (response.py:120-269
    # delegates its final guess to charset-normalizer), import-gated so
    # executors without it still decode deterministically
    try:
        from charset_normalizer import from_bytes

        best = from_bytes(body[:_META_WINDOW]).best()
        if best is not None and best.encoding:
            enc = best.encoding.lower().replace("_", "-")
            if enc in _PREFERRED_WEB_ENCODINGS:
                codecs.lookup(enc)
                return enc
    except Exception:
        pass
    return "windows-1252"


def decode_body(body: bytes | None, content_type: str | None) -> tuple[str, str]:
    enc = detect_encoding(body, content_type)
    if body is None:
        return "", enc
    try:
        return body.decode(enc, errors="replace"), enc
    except LookupError:
        return body.decode("utf-8", errors="replace"), "utf-8"


def is_html(body: bytes | None, content_type: str | None) -> bool:
    ct = (content_type or "").lower()
    snippet = (body or b"")[:_SNIFF]
    low = snippet.lower()
    return (
        "html" in ct
        or b"<html" in low
        or b"<!doctype" in low
        or (ct.startswith("text/") and b"\x00" not in snippet)
    )


def is_html_col(body: str | Column, content_type: str | Column) -> Column:
    """Pure-column HTML detection — stays inside whole-stage codegen.

    ``substring`` on binary peeks only the sniff window, the same
    cheap-peek trick the reference uses (http.py:178)."""
    body_c = F.col(body) if isinstance(body, str) else body
    ct_c = F.col(content_type) if isinstance(content_type, str) else content_type
    ct_low = F.lower(F.coalesce(ct_c, F.lit("")))
    snippet = F.lower(
        F.decode(F.substring(body_c, 1, _SNIFF), "ISO-8859-1")
    )
    return (
        ct_low.contains("html")
        | snippet.contains("<html")
        | snippet.contains("<!doctype")
        | (ct_low.startswith("text/") & ~snippet.contains("\x00"))
    )
