"""PDF text/layout span extraction (operators/pdf.py): round-trip
through the repo's own PDF builder (Flate streams written by the
stored-block zlib encoder, inflated through ``zlib_decompress``),
PDF string-syntax edge cases, multi-page /Kids ordering, layout
coordinates, and the Spark operator's poison-row contract.

Only the last two tests need Spark; the codec itself is pure python.
"""

import re

import pytest

from learnhtml_spark.operators.pdf import (
    build_pdf,
    extract_page_spans,
    extract_pdf_spans,
    pdf_spans,
    synth_pdf_for,
    synthesize_pdfs,
)


def test_roundtrip_flate_and_raw():
    pages = [
        [("text", "Hello world"), ("image", "Img0"), ("text", "Second line")],
        [("text", "Page two text")],
    ]
    for flate in (True, False):
        payload = build_pdf(pages, flate=flate)
        rows = extract_pdf_spans(payload)
        texts = [(r[0], r[2], r[3], r[4]) for r in rows]
        assert texts == [
            (0, "text", "Hello world", None),
            (0, "image", None, "Img0"),
            (0, "text", "Second line", None),
            (1, "text", "Page two text", None),
        ], flate
        # offsets are a document-wide dense sequence
        assert [r[1] for r in rows] == [0, 1, 2, 3]


def test_layout_coordinates_line_advance():
    payload = build_pdf([[("text", "l1"), ("text", "l2"), ("text", "l3")]])
    rows = extract_pdf_spans(payload)
    ys = [r[6] for r in rows]
    xs = [r[5] for r in rows]
    assert xs == [72.0, 72.0, 72.0]
    # each line moves down by the 14pt leading the builder emits
    assert ys[0] - ys[1] == 14.0 and ys[1] - ys[2] == 14.0


def test_string_escapes_roundtrip():
    tricky = "parens () backslash \\ tab\tnewline\n(nested (deep))"
    payload = build_pdf([[("text", tricky)]])
    rows = extract_pdf_spans(payload)
    assert rows[0][3] == tricky


def test_hex_strings_tj_arrays_and_octal():
    content = (
        b"BT 10 700 Td [(Hel) -120 (lo) 30 <20776F726C64>] TJ "
        b"0 -20 Td (oct\\101l \\( fin) Tj ET"
    )
    spans = extract_page_spans(content)
    assert spans[0] == ("text", "Hello world", None, 10.0, 700.0)
    # \101 = 'A'; \( = literal paren
    assert spans[1][1] == "octAl ( fin"
    assert spans[1][3:] == (10.0, 680.0)


def test_quote_operators_advance_line():
    content = b"BT 72 700 Td 14 TL (a) Tj (b) ' 1 2 (c) \" ET"
    spans = extract_page_spans(content)
    assert [s[1] for s in spans] == ["a", "b", "c"]
    assert [s[4] for s in spans] == [700.0, 686.0, 672.0]


def test_kids_order_beats_object_order():
    """Page order comes from the /Kids walk, not object numbering: build
    a 3-page doc, then swap the Kids list and re-extract."""
    payload = build_pdf(
        [[("text", "p0")], [("text", "p1")], [("text", "p2")]]
    )
    rows = extract_pdf_spans(payload)
    assert [r[3] for r in rows] == ["p0", "p1", "p2"]
    # reverse the Kids array in place: pages come back reversed
    m = re.search(rb"/Kids \[([^\]]*)\]", payload)
    refs = re.findall(rb"\d+ 0 R", m.group(1))
    swapped = payload.replace(m.group(1), b" ".join(reversed(refs)))
    rows = extract_pdf_spans(swapped)
    assert [r[3] for r in rows] == ["p2", "p1", "p0"]


def test_unsupported_filter_and_not_pdf_raise():
    with pytest.raises(ValueError, match="not a PDF"):
        extract_pdf_spans(b"HTML, actually")
    payload = build_pdf([[("text", "x")]], flate=True)
    lzw = payload.replace(b"/Filter /FlateDecode", b"/Filter /LZWDecode")
    with pytest.raises(ValueError, match="filter"):
        extract_pdf_spans(lzw)


def test_synth_pdf_deterministic():
    a, b = synth_pdf_for("doc-7"), synth_pdf_for("doc-7")
    assert a == b
    rows = extract_pdf_spans(a)
    kinds = [r[2] for r in rows]
    assert kinds == ["text", "image", "text", "text"]
    assert {r[0] for r in rows} == {0, 1}
    assert "doc-7" in rows[0][3]


def test_stream_data_ending_in_cr_or_lf():
    """/Length is authoritative: binary stream data whose final byte is
    \\r or \\n must not be swallowed by the \\r?\\nendstream match (the
    adler32 trailer of Flate data ends in such a byte for ~3% of docs —
    8/500 at sf0.01 before the fix)."""
    payload = build_pdf([[("text", "x")]], flate=False)
    body = b"BT 72 720 Td (tail) Tj ET"
    for tail in (b"\r", b"\n", b"\r\n"):
        data = body + tail
        patched = re.sub(
            rb"<< /Length \d+ >>\nstream\n.*?\nendstream",
            b"<< /Length %d >>\nstream\n" % len(data) + data + b"\nendstream",
            payload,
            count=1,
            flags=re.S,
        )
        rows = extract_pdf_spans(patched)
        assert [r[3] for r in rows] == ["tail"], tail


def test_pdf_spans_operator_and_poison(spark):
    docs = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    out = pdf_spans(synthesize_pdfs(docs)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {"a", "b"}
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r["offset"])
        assert [r["kind"] for r in rows] == ["text", "image", "text", "text"]
        assert rows[1]["media_ref"] == "Img0"
        assert all(r["error"] is None for r in rows)
    # poison: truncated payload -> one auditable error row
    bad = spark.createDataFrame(
        [("p", bytearray(synth_pdf_for("p")[:50]))],
        "doc_id string, payload binary",
    )
    rows = pdf_spans(bad).collect()
    assert len(rows) == 1 and rows[0]["kind"] == "error"
    assert rows[0]["error"] is not None


def test_pdf_spans_no_shuffle(spark):
    from learnhtml_spark.operators.pdf import pdf_spans, synthesize_pdfs

    docs = spark.createDataFrame([("a",)], "doc_id string")
    plan = (
        pdf_spans(synthesize_pdfs(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # fully narrow: synth + extract map-only
