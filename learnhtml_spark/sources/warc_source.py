"""WARC crawl-archive source — web-scale ingestion for the extraction
pipeline.  CommonCrawl-style corpora (the realistic 100 TB input for a
web content extractor) ship as WARC/1.0 files, usually gzipped with one
gzip member per record; this module reads both ``.warc`` and ``.warc.gz``
into record rows and adapts HTTP response records onto the engine's
``(doc_id, spans)`` interleaved document table so the whole extraction
surface (classifier, heuristic, dedup, quality) runs directly on crawl
archives.

Reference parity note: the reference repo ingests pre-converted
dragnet/cleaneval CSVs (learnhtml/dataset_conversion/conversion.py,
cli/script.py:46); it has no crawl-archive reader.  This source is
beyond-reference surface required by the north rule's web-scale framing.

Distribution model (the CommonCrawl convention): one WARC file is one
task — ``spark.read.format("binaryFile")`` fans the file listing across
executors and each ~1 GB archive parses independently; there is no
intra-file split because gzip members and Content-Length-delimited
records cannot be seeked into safely.  At 100 TB that is ~100k files →
~100k well-sized tasks, no shuffle anywhere in the read path.  Parsing
is recovery-oriented (damaged record → scan to the next ``WARC/`` magic;
truncated tail → one auditable error row, the media_features contract).

Record framing (ISO 28500 / WARC 1.0): ``WARC/1.0 CRLF headers CRLF CRLF
block`` where ``Content-Length`` is authoritative for the block (the
block is binary and may itself contain ``WARC/`` literals — never
delimiter-scan inside it), followed by two CRLFs.  ``.warc.gz`` files
are multi-member gzip streams (one member per record); stdlib
``gzip.decompress`` concatenates members per RFC 1952.

Synthesis (test/bench scaffolding only — production reads existing
archives): ``synthesize_warc_dir`` writes a deterministic archive set
for a scale-factor directory, every byte a pure function of the
documents table's doc_ids, so the driver oracle can state the expected
rows in SQL without reading any file.
"""

from __future__ import annotations

import gzip
import hashlib
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from learnhtml_spark.kernels.document import error_text, python_task

CRLF = b"\r\n"

_SYNTH_VERSION = 5  # bump when synth_response_for's construction changes

# ---------------------------------------------------------------------------
# WARC record writer (deterministic synthesis scaffolding)
# ---------------------------------------------------------------------------


def build_record(warc_type: str, headers: dict[str, str], block: bytes) -> bytes:
    head = [b"WARC/1.0", b"WARC-Type: " + warc_type.encode("latin-1")]
    for k, v in headers.items():
        head.append(k.encode("latin-1") + b": " + v.encode("latin-1"))
    head.append(b"Content-Length: %d" % len(block))
    return CRLF.join(head) + CRLF + CRLF + block + CRLF + CRLF


def http_response(status: int, reason: str, content_type: str, body: bytes) -> bytes:
    return (
        b"HTTP/1.1 %d %s\r\nContent-Type: %s\r\nContent-Length: %d\r\n\r\n"
        % (status, reason.encode("latin-1"), content_type.encode("latin-1"), len(body))
        + body
    )


def synth_url(doc_id: str) -> str:
    return f"https://corpus.example/{doc_id}"


def synth_response_for(doc_id: str) -> tuple[int, bytes]:
    """(status, html body) as a pure function of md5(doc_id || ':warc') —
    the exact construction the driver oracle re-states in SQL.  Docs whose
    hash starts with 'f' become 404s so status filtering is exercised.

    The 200-page layout is adversarial-but-predictable for the heuristic
    extractor (operators/heuristic.py): a nav link farm covering every
    RFC 3986 reference shape for the outlink extractor (link density high
    -> boilerplate), a 4-token heading (near-content, kept only via the
    neighbor-smoothing rule), an 18-token content paragraph (core
    content), and a 2-token footer (too short -> dropped) — so the
    end-to-end driver query ``warc_extract`` can state the extracted span
    sequence in SQL from doc_id alone."""
    h = hashlib.md5(f"{doc_id}:warc".encode()).hexdigest()
    if h[0] == "f":
        body = (
            f"<html><body><h1>404 Not Found</h1><p>{h[12:24]}</p></body></html>"
        )
        return 404, body.encode("ascii")
    body = (
        f"<html><head><title>Doc {doc_id}</title></head><body>"
        f'<ul class="nav"><li><a href="/home">Home</a></li>'
        f'<li><a href="/about">About</a></li>'
        f'<li><a href="/contact">Contact</a></li>'
        f'<li><a href="http://ext.example/x?b=1">Ext</a></li>'
        f'<li><a href="//cdn.example/lib">Cdn</a></li>'
        f'<li><a href="item/{h[2:6]}">Item</a></li>'
        f'<li><a href="../up">Up</a></li></ul>'
        f"<h1>Doc {doc_id} crawl report</h1>"
        f"<p>Paragraph {h[:12]} for {doc_id} retains sixteen deterministic "
        f"tokens covering corpus fetch parse extract verify stages end to end.</p>"
        f"<p>Footer note.</p></body></html>"
    )
    return 200, body.encode("ascii")


def synth_media_for(doc_id: str) -> bytes | None:
    """Deterministic PNG payload (or None) for a doc — REAL image bytes
    from the repo's own encoder (operators/png.py), pixels a pure
    function of md5(doc_id || ':png').  Docs whose page-hash second hex
    digit is < '8' carry one image (~half the corpus), so the interleaved
    text+media assembly is exercised on a mixed population."""
    h = hashlib.md5(f"{doc_id}:warc".encode()).hexdigest()
    if h[0] == "f" or h[1] >= "8":
        return None
    import numpy as np

    from learnhtml_spark.operators.png import encode_png

    raw = hashlib.md5(f"{doc_id}:png".encode()).digest() * 3  # 48 bytes
    px = np.frombuffer(raw, dtype=np.uint8).reshape(4, 4, 3)
    return encode_png(px)


def media_url(doc_id: str) -> str:
    return f"{synth_url(doc_id)}/img.png"


def build_warc(doc_ids: list[str], gz: bool) -> bytes:
    """One archive: a warcinfo record, then per doc a request record (the
    reader must skip non-response types), the page response record, and —
    for docs carrying media — an image response record immediately after
    its page (the archive-local adjacency that interleaved assembly
    relies on).  Every byte deterministic (fixed WARC-Date, gzip
    mtime=0)."""
    records = [
        build_record(
            "warcinfo",
            {"WARC-Date": "2026-01-01T00:00:00Z"},
            b"software: learnhtml-spark-synth\r\n",
        )
    ]
    for doc_id in doc_ids:
        url = synth_url(doc_id)
        records.append(
            build_record(
                "request",
                {
                    "WARC-Target-URI": url,
                    "WARC-Date": "2026-01-01T00:00:00Z",
                    "Content-Type": "application/http; msgtype=request",
                },
                b"GET / HTTP/1.1\r\nHost: corpus.example\r\n\r\n",
            )
        )
        status, body = synth_response_for(doc_id)
        records.append(
            build_record(
                "response",
                {
                    "WARC-Target-URI": url,
                    "WARC-Date": "2026-01-01T00:00:00Z",
                    "Content-Type": "application/http; msgtype=response",
                },
                http_response(
                    status,
                    "OK" if status == 200 else "Not Found",
                    "text/html; charset=utf-8",
                    body,
                ),
            )
        )
        media = synth_media_for(doc_id)
        if media is not None:
            records.append(
                build_record(
                    "response",
                    {
                        "WARC-Target-URI": media_url(doc_id),
                        "WARC-Date": "2026-01-01T00:00:00Z",
                        "Content-Type": "application/http; msgtype=response",
                    },
                    http_response(200, "OK", "image/png", media),
                )
            )
    if gz:  # one gzip member per record — the CommonCrawl layout
        return b"".join(gzip.compress(r, mtime=0) for r in records)
    return b"".join(records)


def synthesize_warc_dir(sf_dir: str, docs_per_file: int = 100) -> str:
    """Materialize the deterministic archive set for a scale-factor dir
    under /tmp (write-once, marker-guarded).  Alternating files are
    plain ``.warc`` and multi-member ``.warc.gz``."""
    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    )
    ids = sorted(str(d) for d in docs["doc_id"])
    # _SYNTH_VERSION keys the cache to the body template — bump it whenever
    # synth_response_for changes or stale archives would be served
    key = hashlib.md5(
        (os.path.abspath(sf_dir) + f":{len(ids)}:{docs_per_file}:{_SYNTH_VERSION}")
        .encode()
    ).hexdigest()[:12]
    out = os.path.join("/tmp", "learnhtml_warc", key)
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for fno, lo in enumerate(range(0, len(ids), docs_per_file)):
        chunk = ids[lo: lo + docs_per_file]
        gz = fno % 2 == 1
        name = f"part-{fno:05d}.warc" + (".gz" if gz else "")
        with open(os.path.join(out, name), "wb") as f:
            f.write(build_warc(chunk, gz))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out


# ---------------------------------------------------------------------------
# WARC parsing (recovery-oriented, Content-Length-authoritative)
# ---------------------------------------------------------------------------


def parse_warc(data: bytes) -> list[tuple[dict, bytes, str | None]]:
    """bytes -> [(headers lowercased, block, error)] — one tuple per
    record; a truncated tail yields a final tuple with error set."""
    out: list[tuple[dict, bytes, str | None]] = []
    i, n = 0, len(data)
    while i < n:
        j = data.find(b"WARC/", i)
        if j < 0:
            break
        he = data.find(CRLF + CRLF, j)
        if he < 0:
            out.append(({}, b"", "truncated WARC header"))
            break
        head = data[j:he].decode("latin-1")
        hdrs: dict[str, str] = {}
        for line in head.split("\r\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                hdrs[k.strip().lower()] = v.strip()
        try:
            clen = int(hdrs.get("content-length", "0"))
        except ValueError:
            clen = 0
        block = data[he + 4: he + 4 + clen]
        if len(block) < clen:
            out.append((hdrs, block, "truncated WARC block"))
            break
        out.append((hdrs, block, None))
        i = he + 4 + clen  # the inter-record CRLFs are skipped by the
        # next WARC/ scan — tolerating both strict and sloppy writers
    return out


def parse_archive(path: str, content) -> list[tuple[dict, bytes, str | None]]:
    """One archive file's bytes -> ``parse_warc`` records; ``.gz`` paths
    are gzip members first.  Raises on an undecodable archive."""
    data = bytes(content)
    return parse_warc(gzip.decompress(data) if path.endswith(".gz") else data)


def parse_http_response(block: bytes) -> tuple[int, str, bytes]:
    """(status, content_type, body) from an application/http block."""
    sep = block.find(CRLF + CRLF)
    if sep < 0:
        raise ValueError("no HTTP header/body separator")
    head = block[:sep].decode("latin-1")
    lines = head.split("\r\n")
    parts = lines[0].split()
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError("not an HTTP response block")
    status = int(parts[1])
    ctype = ""
    for line in lines[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            if k.strip().lower() == "content-type":
                ctype = v.strip()
    return status, ctype, block[sep + 4:]


WARC_RECORDS = StructType(
    [
        StructField("path", StringType(), False),
        StructField("record_index", IntegerType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("http_status", IntegerType()),
        StructField("content_type", StringType()),
        StructField("body", BinaryType()),
        StructField("error", StringType()),
    ]
)


def read_warc_dir(spark: SparkSession, directory: str) -> DataFrame:
    """Archive directory -> record rows.  One task per file (binaryFile
    listing fan-out), fully narrow; .warc.gz members are concatenated by
    stdlib gzip (RFC 1952 multi-member).  HTTP response records carry
    (http_status, content_type, body); other record types keep body=NULL
    and rows with error set are auditable, never task failures."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(directory)
        .select("path", "content")
    )

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WARC_RECORDS.fields]
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    records = parse_archive(path, content)
                except Exception as exc:  # archive-level poison
                    rows.append(
                        (path, -1, None, None, None, None, None, error_text(exc))
                    )
                    continue
                for idx, (hdrs, block, err) in enumerate(records):
                    wtype = hdrs.get("warc-type")
                    uri = hdrs.get("warc-target-uri")
                    if err is not None:
                        rows.append((path, idx, wtype, uri, None, None, None, err))
                        continue
                    if wtype == "response":
                        try:
                            status, ctype, body = parse_http_response(block)
                            rows.append(
                                (path, idx, wtype, uri, status, ctype, body, None)
                            )
                        except Exception as exc:
                            rows.append(
                                (path, idx, wtype, uri, None, None, None,
                                 error_text(exc))
                            )
                    else:
                        rows.append((path, idx, wtype, uri, None, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    return raw.mapInPandas(run, schema=WARC_RECORDS)


def warc_cdx(data: bytes, compressed: bool) -> list[tuple[int, int, dict]]:
    """CDX-style record index: [(offset, length, headers)] where
    offset/length address the record INSIDE THE FILE AS STORED — for
    plain ``.warc`` the record's byte span, for ``.warc.gz`` the gzip
    member's byte span (the CommonCrawl index convention: fetch the
    member byte range, gunzip, parse one record).  Headers are parsed
    from the decompressed record; damaged records are skipped (the index
    is an accelerator — the full scan remains the auditable surface)."""
    out: list[tuple[int, int, dict]] = []
    if compressed:
        import zlib

        pos = 0
        n = len(data)
        while pos < n:
            d = zlib.decompressobj(wbits=31)  # one gzip member
            try:
                rec = d.decompress(data[pos:])
            except zlib.error:
                break  # trailing garbage: index what we have
            if not d.eof:
                break  # truncated final member
            consumed = n - pos - len(d.unused_data)
            parsed = parse_warc(rec)
            if parsed and parsed[0][2] is None:
                out.append((pos, consumed, parsed[0][0]))
            pos += consumed
    else:
        i, n = 0, len(data)
        while i < n:
            j = data.find(b"WARC/", i)
            if j < 0:
                break
            he = data.find(CRLF + CRLF, j)
            if he < 0:
                break
            head = data[j:he].decode("latin-1")
            hdrs = {}
            for line in head.split("\r\n")[1:]:
                if ":" in line:
                    k, v = line.split(":", 1)
                    hdrs[k.strip().lower()] = v.strip()
            try:
                clen = int(hdrs.get("content-length", "0"))
            except ValueError:
                clen = 0
            end = he + 4 + clen
            if end > n:
                break
            out.append((j, end + 4 - j, hdrs))  # include trailing CRLFCRLF
            i = end
    return out


def fetch_record(path: str, offset: int, length: int) -> tuple[dict, bytes]:
    """Random access: read one record by its index span — the 100 TB
    re-fetch path (a single HTTP range request against archive storage
    instead of a full-archive scan).  Returns (headers, block)."""
    with open(path, "rb") as f:
        f.seek(offset)
        raw = f.read(length)
    if path.endswith(".gz"):
        raw = gzip.decompress(raw)
    records = parse_warc(raw)
    if not records or records[0][2] is not None:
        raise ValueError(f"no valid record at {path}:{offset}+{length}")
    hdrs, block, _ = records[0]
    return hdrs, block


def read_warc_cdx(spark: SparkSession, directory: str) -> DataFrame:
    """Archive directory -> CDX index rows (archive, offset, length,
    warc_type, target_uri).  One task per archive, narrow; the output is
    the lookup table that makes single-record re-fetches O(1) instead of
    O(archive)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(directory)
        .select("path", "content")
    )

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["archive", "offset", "length", "warc_type", "target_uri"]
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    idx = warc_cdx(bytes(content), path.endswith(".gz"))
                except Exception:
                    continue  # corrupt archive: not indexable
                rows.extend(
                    (path, off, ln, h.get("warc-type"),
                     h.get("warc-target-uri"))
                    for off, ln, h in idx
                )
            yield pd.DataFrame(rows, columns=cols)

    return raw.mapInPandas(
        run,
        schema=(
            "archive string, offset long, length long, "
            "warc_type string, target_uri string"
        ),
    )


def assemble_interleaved(
    records: list[tuple[dict, bytes, str | None]],
) -> tuple[list[tuple[str, list[dict]]], list[tuple[str, Exception]]]:
    """Parsed records -> interleaved (url, spans) docs + (uri, exception)s
    for the response records that could not be decoded.

    A ``text/html`` 200 opens a document (html span, offset 0); the
    media responses that immediately follow it under ``<page-url>/...``
    attach as media spans in arrival order — the archive-local adjacency
    CommonCrawl-style conversion jobs rely on (a page and its fetched
    assets land consecutively in the same archive, so assembly needs no
    shuffle and no cross-archive state)."""
    docs: list[tuple[str, list[dict]]] = []
    errors: list[tuple[str, Exception]] = []
    cur: tuple[str, list[dict]] | None = None
    for hdrs, block, err in records:
        if hdrs.get("warc-type") != "response":
            continue
        uri = hdrs.get("warc-target-uri") or ""
        if err is not None:
            errors.append((uri, ValueError(err)))
            cur = None
            continue
        try:
            status, ctype, body = parse_http_response(block)
        except Exception as exc:  # noqa: BLE001 — per-record isolation
            errors.append((uri, exc))
            cur = None
            continue
        if status != 200:
            cur = None
        elif ctype.startswith("text/html"):
            cur = (
                uri,
                [{"kind": "html", "text": body.decode("utf-8", "replace"),
                  "media_ref": None, "offset": 0}],
            )
            docs.append(cur)
        elif cur is not None and uri.startswith(cur[0] + "/"):
            cur[1].append(
                {"kind": "media", "text": "", "media_ref": uri,
                 "offset": len(cur[1])}
            )
    return docs, errors


WARC_DOCS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("kind", StringType(), False),
                        StructField("text", StringType()),
                        StructField("media_ref", StringType()),
                        StructField("offset", IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def read_warc_docs(spark: SparkSession, directory: str) -> DataFrame:
    """Archive directory -> interleaved (doc_id, spans) documents — the
    engine's input_hint table shape, straight off crawl archives.  One
    fused task per archive (framing + gzip + HTTP + assembly), zero
    shuffles; damaged records are skipped here (read_warc_dir is the
    auditable record-level surface)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(directory)
        .select("path", "content")
    )

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    records = parse_archive(path, content)
                except Exception:  # archive-level poison: no docs
                    continue
                docs, _errors = assemble_interleaved(records)
                rows.extend(docs)
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return raw.mapInPandas(run, schema=WARC_DOCS)


def warc_media_table(records: DataFrame) -> DataFrame:
    """Non-html 200 responses as an opaque-binary media table
    (media_ref, content_type, data) — the multimodal column model;
    feed to media_features / decode UDFs.  Narrow projection."""
    return (
        records.filter(
            (F.col("warc_type") == "response")
            & F.col("error").isNull()
            & (F.col("http_status") == 200)
            & ~F.col("content_type").startswith("text/html")
        )
        .select(
            F.col("target_uri").alias("media_ref"),
            "content_type",
            F.col("body").alias("data"),
        )
    )


def warc_response_docs(records: DataFrame) -> DataFrame:
    """text/html response records -> one row per fetched page with
    JVM-side digest columns (url, status, content_type, n_bytes,
    body_md5) — the shape the driver oracle states in SQL.  Pure narrow
    projection.  (Non-html responses — fetched page assets — are the
    media table's business, warc_media_table.)"""
    return (
        records.filter(
            (F.col("warc_type") == "response")
            & F.col("error").isNull()
            & F.col("content_type").startswith("text/html")
        )
        .select(
            F.col("target_uri").alias("url"),
            F.col("http_status").alias("status"),
            F.col("content_type"),
            F.length("body").alias("n_bytes"),
            F.md5("body").alias("body_md5"),
        )
    )


def warc_docs_table(records: DataFrame) -> DataFrame:
    """Adapter onto the engine's document model: 200-responses become
    (doc_id=url, spans=[single html span]) so every downstream operator
    (classifier/heuristic extraction, dedup, quality) runs unchanged on
    crawl archives.  Narrow; bodies decode as UTF-8 JVM-side."""
    span = F.struct(
        F.lit("html").alias("kind"),
        F.decode(F.col("body"), "UTF-8").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return (
        records.filter(
            (F.col("warc_type") == "response")
            & F.col("error").isNull()
            & (F.col("http_status") == 200)
            & F.col("content_type").startswith("text/html")
        )
        .select(F.col("target_uri").alias("doc_id"), F.array(span).alias("spans"))
    )
