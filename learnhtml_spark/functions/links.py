"""Outlink extraction — the crawl-frontier side of a web-scale pipeline.

``extract_outlinks`` walks each document's parsed DOM (the SAME
from-scratch parser the extraction path uses) for anchor hrefs and
resolves them against the document URL per RFC 3986 §5 (stdlib
``urllib.parse.urljoin`` — reference resolution is exactly its job), so
path-absolute, protocol-relative, dot-segment and absolute references
all land as fetchable URLs.  Output carries the destination host so
frontier/host-level aggregations are one hash aggregate away.

Plan shape: scan -> ONE mapInPandas, zero exchanges — per-doc cost is
one parse + one linear DOM walk.  At 10^12 docs the edge list this emits
is the input to the link-graph family (functions/graph.py).

No reference counterpart (the reference never looks at anchors' hrefs —
only their text, for link density); this is beyond-reference crawl
surface.
"""

from __future__ import annotations

from typing import Iterator
from urllib.parse import urljoin, urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from learnhtml_spark.htmlparse import parse_html
from learnhtml_spark.spans import html_from_spans

OUTLINKS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("link_pos", IntegerType(), False),
        StructField("href", StringType(), False),
        StructField("url", StringType()),
        StructField("dst_host", StringType()),
    ]
)


def doc_outlinks(base_url: str, html: str) -> list[tuple]:
    """Sequential kernel: one page -> (link_pos, href, url, host) rows in
    document order.  Unresolvable hrefs keep url/host NULL (auditable,
    never a failure)."""
    root = parse_html(html) if html else None
    out = []
    if root is None:
        return out
    stack = [root]
    while stack:
        node = stack.pop()
        if node.tag == "a":
            href = node.attrib.get("href")
            if href is not None:
                try:
                    url = urljoin(base_url, href)
                    host = urlsplit(url).hostname
                except ValueError:
                    url = host = None
                out.append((len(out), href, url, host))
        # children pushed reversed so the walk is document order
        stack.extend(reversed(node.getchildren()))
    return out


def extract_outlinks(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> outlink edge rows.  The doc_id column is the
    page URL (the crawl document model, sources/warc_source.py)."""
    from learnhtml_spark.kernels.document import python_task, spans_list

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in OUTLINKS.fields]
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                html, _ = html_from_spans(spans_list(spans))
                rows.extend(
                    (doc_id, *r) for r in doc_outlinks(doc_id, html)
                )
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(run, schema=OUTLINKS)
