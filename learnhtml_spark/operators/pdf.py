"""Minimal PDF text/layout span extraction — the "PDF/layout parse" leg
of the north rule's main-content extraction triad (HTML boilerplate
strip / PDF parse / DOM heuristics), with no PDF library: content
streams compressed with /FlateDecode are inflated through
``operators.png.zlib_decompress`` (zlib header and adler32 checks, raw
DEFLATE by the stdlib ``zlib`` module).

Scope (documented, like the multimodal codec seams):
- PDF 1.x files with uncompressed cross-reference layout (objects are
  located by scanning ``N 0 obj … endobj`` spans, so a damaged or absent
  xref table is tolerated — the parser is recovery-oriented like the
  HTML parser);
- content streams raw or /FlateDecode (stored, fixed- and
  dynamic-Huffman blocks); other filters (LZW, DCT…) raise;
- text via the Tj / ' / " / TJ operators with literal ``(…)`` strings
  (escapes: \\\\ \\( \\) \\n \\r \\t \\b \\f, octal, line continuation)
  and ``<hex>`` strings, 1-byte encodings (WinAnsi/Standard-ish: bytes
  are decoded latin-1; CID/Type0 2-byte fonts are out of scope and
  documented);
- layout: a ``BT … ET`` text block yields one span per text-showing op,
  with the current text-matrix translation (Td/TD/Tm/T*) captured as
  (x, y) so downstream layout heuristics (column split, reading order,
  header/footer strip) can sort by position; page breaks reset offsets;
- inline images and XObject invocations (``/Name Do``) become
  ``kind='image'`` spans carrying the XObject name as ``media_ref`` —
  the same interleaved text+media span model the HTML extraction path
  emits (BASELINE.json input_hint).

The Spark surface is ``pdf_spans`` (Arrow-batched mapInPandas, poison
payloads isolated as error rows, same contract as media_features) plus
``synthesize_pdfs`` (deterministic per-doc PDF bytes — Flate-compressed
via the repo's stored-block zlib encoder — so the decode path runs on
REAL bytes at any scale factor without external data).
"""

from __future__ import annotations

import hashlib
import re
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from learnhtml_spark.kernels.document import python_task
from learnhtml_spark.operators.png import zlib_compress_stored, zlib_decompress

_RE_OBJ = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_RE_STREAM = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_RE_REF = re.compile(rb"(\d+)\s+\d+\s+R")


def _parse_objects(payload: bytes) -> dict[int, bytes]:
    """Object number -> object body (dict + optional stream), by scan —
    xref-free recovery parsing (libxml2-style leniency for PDFs)."""
    return {int(m.group(1)): m.group(2) for m in _RE_OBJ.finditer(payload)}


_RE_STREAM_START = re.compile(rb"stream\r?\n")
_RE_LENGTH = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")


def _object_stream(body: bytes) -> bytes | None:
    ms = _RE_STREAM_START.search(body)
    if ms is None:
        return None
    # a direct integer /Length is authoritative (PDF 32000-1 §7.3.8.2) —
    # the regex fallback is wrong when the binary data itself ends in
    # \r or \n (the \r?\nendstream match would swallow it)
    ml = _RE_LENGTH.search(body[: ms.start()])
    if ml is not None:
        data = body[ms.end(): ms.end() + int(ml.group(1))]
    else:
        m = _RE_STREAM.search(body, ms.start())
        if m is None:
            return None
        data = m.group(1)
    if b"/FlateDecode" in body[: ms.start()]:
        return zlib_decompress(data)
    if b"/Filter" in body[: ms.start()]:
        raise ValueError("unsupported PDF stream filter (only /FlateDecode)")
    return data


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in document order: walk /Root -> /Pages ->
    /Kids recursively; fall back to scan order of /Type /Page objects."""
    root = None
    for body in objs.values():
        if b"/Type" in body and b"/Catalog" in body:
            m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", body)
            if m:
                root = int(m.group(1))
            break
    pages: list[int] = []

    def walk(num: int, depth: int = 0):
        if depth > 64 or num not in objs:
            return
        body = objs[num]
        if b"/Type" in body and re.search(rb"/Type\s*/Page\b", body) and not re.search(
            rb"/Type\s*/Pages\b", body
        ):
            pages.append(num)
            return
        m = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
        if m:
            for r in _RE_REF.finditer(m.group(1)):
                walk(int(r.group(1)), depth + 1)

    if root is not None:
        walk(root)
    if not pages:
        pages = [
            n for n, b in sorted(objs.items())
            if re.search(rb"/Type\s*/Page\b", b)
            and not re.search(rb"/Type\s*/Pages\b", b)
        ]
    return pages


_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _literal_string(buf: bytes, i: int) -> tuple[bytes, int]:
    """Decode a PDF literal string starting at ``buf[i] == '('``;
    returns (bytes, index after closing paren).  Balanced parens and the
    full escape table per PDF 32000-1 §7.3.4.2."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(buf)
    while i < n and depth:
        c = buf[i: i + 1]
        if c == b"\\":
            nxt = buf[i + 1: i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < min(i + 4, n) and buf[j: j + 1].isdigit():
                    j += 1
                out.append(int(buf[i + 1: j], 8) & 0xFF)
                i = j
            elif nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and buf[i: i + 1] == b"\n":
                    i += 1
            else:
                i += 1  # lone backslash: dropped
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth:
                out += c
            i += 1
        else:
            out += c
            i += 1
    return bytes(out), i


_RE_TOKEN = re.compile(
    rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>|\[|\]|/[^\s/\[\]()<>]+"
    rb"|[-+]?\d*\.?\d+|[A-Za-z'\"*]+"
)


def _decode_string_token(tok: bytes) -> str:
    if tok.startswith(b"("):
        s, _ = _literal_string(tok, 0)
        return s.decode("latin-1")
    hexdigits = re.sub(rb"\s", b"", tok[1:-1])
    if len(hexdigits) % 2:
        hexdigits += b"0"  # §7.3.4.3: odd final digit implies trailing 0
    return bytes.fromhex(hexdigits.decode("ascii")).decode("latin-1")


def extract_page_spans(content: bytes) -> list[tuple[str, str, str, float, float]]:
    """One decoded content stream -> ordered (kind, text, media_ref, x, y)
    spans.  The interpreter tracks only what layout needs: the text-line
    translation from Td/TD/Tm/T* inside BT..ET, and Do invocations."""
    spans: list[tuple[str, str, str, float, float]] = []
    stack: list = []  # operand stack (strings/numbers/names/arrays)
    arr: list | None = None
    x = y = 0.0
    leading = 0.0

    def nums(k: int):
        vals = [v for v in stack if isinstance(v, float)]
        return vals[-k:] if len(vals) >= k else [0.0] * k

    for m in _RE_TOKEN.finditer(content):
        tok = m.group(0)
        if tok in (b"[",):
            arr = []
            continue
        if tok == b"]":
            stack.append(arr if arr is not None else [])
            arr = None
            continue
        if tok.startswith(b"(") or tok.startswith(b"<"):
            val = _decode_string_token(tok)
            (arr if arr is not None else stack).append(val)
            continue
        if tok.startswith(b"/"):
            (arr if arr is not None else stack).append(tok[1:].decode("latin-1"))
            continue
        if re.fullmatch(rb"[-+]?\d*\.?\d+", tok):
            (arr if arr is not None else stack).append(float(tok))
            continue
        op = tok
        if op in (b"Td", b"TD"):
            tx, ty = nums(2)
            x, y = x + tx, y + ty
            if op == b"TD":
                leading = -ty
        elif op == b"Tm":
            six = nums(6)
            x, y = six[4], six[5]
        elif op == b"T*":
            y -= leading
        elif op == b"TL":
            (leading,) = nums(1)
        elif op in (b"Tj", b"'", b'"'):
            if op != b"Tj":  # ' and " imply a line advance first
                y -= leading
            txt = next(
                (v for v in reversed(stack) if isinstance(v, str)), None
            )
            if txt is not None:
                spans.append(("text", txt, None, x, y))
        elif op == b"TJ":
            a = next((v for v in reversed(stack) if isinstance(v, list)), None)
            if a is not None:
                txt = "".join(v for v in a if isinstance(v, str))
                if txt:
                    spans.append(("text", txt, None, x, y))
        elif op == b"Do":
            name = next(
                (v for v in reversed(stack) if isinstance(v, str)), None
            )
            if name is not None:
                spans.append(("image", None, name, x, y))
        elif op == b"BT":
            x = y = 0.0
            leading = 0.0
        stack.clear()  # every operator consumes its operands
    return spans


def extract_pdf_spans(payload: bytes) -> list[tuple[int, int, str, str, str, float, float]]:
    """Whole PDF -> ordered (page, offset, kind, text, media_ref, x, y)
    rows; offset is the within-document span index across pages."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    objs = _parse_objects(payload)
    pages = _page_order(objs)
    if not pages:
        # a PDF with zero page objects is truncated or unsupported —
        # surface it as a poison row, never a silent empty document
        raise ValueError("no page objects found (truncated PDF?)")
    rows = []
    offset = 0
    for pageno, pnum in enumerate(pages):
        body = objs[pnum]
        m = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", body)
        refs = []
        if m:
            refs = [int(m.group(1))]
        else:
            ma = re.search(rb"/Contents\s*\[(.*?)\]", body, re.S)
            if ma:
                refs = [int(r.group(1)) for r in _RE_REF.finditer(ma.group(1))]
        content = b"\n".join(
            _object_stream(objs[r]) or b"" for r in refs if r in objs
        )
        for kind, text, ref, sx, sy in extract_page_spans(content):
            rows.append((pageno, offset, kind, text, ref, sx, sy))
            offset += 1
    return rows


# ---------------------------------------------------------------------------
# deterministic PDF synthesis (inverse path for tests + driver query)
# ---------------------------------------------------------------------------

def build_pdf(pages: list[list[tuple]], flate: bool = True) -> bytes:
    """pages = list of page span lists [(kind, text_or_name), ...] ->
    a small but VALID PDF (xref table included, streams optionally
    Flate-compressed with the repo's stored-block zlib encoder)."""
    objs: list[bytes] = []  # bodies, object number = index+2

    def esc(s: str) -> bytes:
        return (
            s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        ).encode("latin-1")

    page_nums = []
    content_bodies = []
    for spans in pages:
        ops = [b"BT /F1 12 Tf 72 720 Td 14 TL"]
        for kind, val in spans:
            if kind == "text":
                ops.append(b"(" + esc(val) + b") Tj 0 -14 Td")
            else:
                ops.append(b"ET /" + val.encode() + b" Do BT 72 600 Td")
        ops.append(b"ET")
        content_bodies.append(b" ".join(ops))

    n_pages = len(pages)
    # object numbering: 1=catalog, 2=pages, then per page (page, contents)
    kids = b" ".join(
        b"%d 0 R" % (3 + 2 * i) for i in range(n_pages)
    )
    out_objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages,
    }
    for i, raw in enumerate(content_bodies):
        pnum, cnum = 3 + 2 * i, 4 + 2 * i
        data = zlib_compress_stored(raw) if flate else raw
        filt = b" /Filter /FlateDecode" if flate else b""
        out_objs[pnum] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 %d 0 R >> "
            b"/XObject << /Img0 %d 0 R >> >> >>"
            % (cnum, 3 + 2 * n_pages, 4 + 2 * n_pages)
        )
        out_objs[cnum] = (
            b"<< /Length %d%s >>\nstream\n" % (len(data), filt)
            + data
            + b"\nendstream"
        )
    out_objs[3 + 2 * n_pages] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    out_objs[4 + 2 * n_pages] = (
        b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>\n"
        b"stream\n\x80\nendstream"
    )
    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(out_objs):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + out_objs[num] + b"\nendobj\n"
    xref_at = len(buf)
    n = max(out_objs) + 1
    buf += b"xref\n0 %d\n0000000000 65535 f \n" % n
    for i in range(1, n):
        buf += b"%010d 00000 n \n" % offsets.get(i, 0)
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (n, xref_at)
    )
    return bytes(buf)


def synth_pdf_for(doc_id: str) -> bytes:
    """Deterministic 2-page PDF seeded from md5(doc_id): page 1 has two
    text lines + one image XObject span, page 2 one line — exercising
    multi-page ordering, Flate content and interleaved media spans."""
    h = hashlib.md5(f"{doc_id}:pdf".encode()).hexdigest()
    return build_pdf(
        [
            [
                ("text", f"Document {doc_id} title {h[:8]}"),
                ("image", "Img0"),
                ("text", f"Body paragraph {h[8:16]} of {doc_id}."),
            ],
            [("text", f"Second page {h[16:24]}")],
        ],
        flate=True,
    )


PDF_SPANS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page", IntegerType()),
        StructField("offset", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("error", StringType()),
    ]
)


def pdf_spans(pdf_df: DataFrame) -> DataFrame:
    """(doc_id, payload:binary) -> ordered interleaved text+image span
    rows per document — the PDF twin of the HTML extraction output.
    Arrow-batched mapInPandas, rows independent (any partitioning);
    poison payloads become one auditable error row, never a task
    failure (the media_features contract)."""

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PDF_SPANS.fields]
        for pdf in batches:
            rows = []
            for i, doc_id in enumerate(pdf["doc_id"]):
                payload = pdf["payload"].iloc[i]
                if payload is not None and not isinstance(payload, bytes):
                    payload = bytes(payload)
                try:
                    for (pg, off, kind, text, ref, sx, sy) in extract_pdf_spans(
                        payload
                    ):
                        rows.append(
                            (str(doc_id), pg, off, kind, text, ref, sx, sy,
                             None)
                        )
                except Exception as exc:
                    rows.append(
                        (str(doc_id), -1, -1, "error", None, None, 0.0, 0.0,
                         f"{type(exc).__name__}: {exc}"[:500])
                    )
            yield pd.DataFrame(rows, columns=cols)

    return pdf_df.mapInPandas(run, schema=PDF_SPANS)


def synthesize_pdfs(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): one deterministic PDF per document — narrow
    generation, no shuffle; feeds ``pdf_spans`` with real bytes."""

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (str(d), synth_pdf_for(str(d))) for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return docs.select("doc_id").mapInPandas(
        run, schema="doc_id string, payload binary"
    )
