"""Deterministic synthetic web corpus over the driver's ``documents`` table.

Turns each (doc_id, text, lang, source) row into an interleaved-span page
(BASELINE.json input_hint): boilerplate chrome (nav/header/sidebar/footer,
link-heavy) around content paragraphs carrying the document's text, plus
media spans.  Everything is seeded from doc_id — bit-stable across runs and
executors — so extraction ground truth (the content paragraphs) is known
exactly without labeling.

Used by __spark_entry__/bench to run the extraction pipeline at testdata
scale, and for training the packaged model.
"""

from __future__ import annotations

import hashlib

NAV_WORDS = ["home", "news", "sports", "contact", "about", "shop", "login",
             "archive", "video", "photos", "trending", "subscribe", "world",
             "local", "opinion", "tech", "health", "travel", "jobs", "deals"]
FOOTERS = [
    "Copyright 2024 Example Media Group. All rights reserved. Terms of "
    "service. Privacy policy.",
    "All content copyright Site Holdings Inc. Do not reproduce without "
    "permission. Cookie settings. Accessibility.",
    "Powered by ExampleCMS. Sitemap. RSS feeds. Advertise with us. "
    "Careers. Press room.",
]
AD_SNIPPETS = [
    "Sponsored: best deals on example products click here now",
    "Advertisement partner content promotion limited offer",
    "Recommended for you more stories around the web",
    "You may also like these trending picks from our partners",
    "Hot right now sign up and save big on top brands today",
]
# class-name pools: varied per page so a model cannot memorize chrome
# attribute strings and must rely on structural/density signals
CONTENT_CLASSES = ["article-body", "post-text", "entry-content", "story",
                   "body-copy", "txt", "main-text", "copy", ""]
HEADLINE_CLASSES = ["headline", "title", "post-title", "hed", "article-h", ""]
NAV_CLASSES = ["nav-item", "menu-link", "topnav-a", "m-item", ""]
WIDGET_CLASSES = ["widget promo", "sidebar-box", "teaser ad", "rail-item", ""]
MAIN_IDS = ["main", "content", "article", "primary", "story-wrap"]
FOOTER_CLASSES = ["fineprint", "footer-legal", "small-print", "legal", ""]


def _rng_ints(doc_id, n: int, mod: int) -> list[int]:
    """n deterministic ints in [0, mod) derived from doc_id."""
    out = []
    counter = 0
    while len(out) < n:
        h = hashlib.md5(f"{doc_id}:{counter}".encode()).digest()
        for b in h:
            out.append(b % mod)
            if len(out) >= n:
                break
        counter += 1
    return out


def synthesize_page(doc_id, text: str, source: str = "src", lang: str = "en"):
    """Returns (spans, content_paragraphs): the interleaved-span page and
    the ordered list of content block texts the extractor must recover."""
    words = (text or "").split()
    if not words:
        words = ["empty", "document"]
    # split content into 1-3 roughly-equal paragraphs deterministically
    r = _rng_ints(doc_id, 8, 4)
    n_paras = 1 + r[0] % 3 if len(words) >= 12 else 1
    base, extra = divmod(len(words), n_paras)
    paras = []
    pos = 0
    for k in range(n_paras):
        size = base + (1 if k < extra else 0)
        if size:
            paras.append(" ".join(words[pos : pos + size]))
        pos += size

    # per-page chrome variation (deterministic): class-name pools, nav
    # size, widget count, optional extra wrappers, heading level
    rv = _rng_ints(doc_id + ":v", 12, 251)
    cls_content = CONTENT_CLASSES[rv[0] % len(CONTENT_CLASSES)]
    cls_head = HEADLINE_CLASSES[rv[1] % len(HEADLINE_CLASSES)]
    cls_nav = NAV_CLASSES[rv[2] % len(NAV_CLASSES)]
    cls_widget = WIDGET_CLASSES[rv[3] % len(WIDGET_CLASSES)]
    main_id = MAIN_IDS[rv[4] % len(MAIN_IDS)]
    cls_foot = FOOTER_CLASSES[rv[5] % len(FOOTER_CLASSES)]
    footer_text = FOOTERS[rv[6] % len(FOOTERS)]
    htag = "h1" if rv[7] % 3 else "h2"
    nav_start = rv[8] % len(NAV_WORDS)

    def _cls(c):
        return f' class="{c}"' if c else ""

    nav = " ".join(
        f'<a{_cls(cls_nav)} href="/{NAV_WORDS[(nav_start + i) % len(NAV_WORDS)]}">'
        f"{NAV_WORDS[(nav_start + i) % len(NAV_WORDS)]}</a>"
        for i in range(4 + r[1] % 6)
    )
    sidebar_items = "".join(
        f'<div{_cls(cls_widget)}><a href="/w{i}">'
        f"{AD_SNIPPETS[(rv[9] + i) % len(AD_SNIPPETS)]}</a></div>"
        for i in range(1 + r[2] % 3)
    )
    # optional related-links list (pure boilerplate)
    related = ""
    if rv[10] % 2:
        related = "<ul>" + "".join(
            f'<li><a href="/rel{i}">more {NAV_WORDS[(nav_start + 2 * i) % len(NAV_WORDS)]} '
            f"stories {i}</a></li>"
            for i in range(3)
        ) + "</ul>"
    content = "".join(f"<p{_cls(cls_content)}>{p}</p>" for p in paras)
    title = " ".join(words[:6])
    # the <title> text always becomes the page's first (boilerplate) block;
    # the suffix keeps it distinct from the headline content block
    page_title = title + " | Example News"
    # optional extra wrapper div around the main column
    open_wrap, close_wrap = ("<div>", "</div>") if rv[11] % 2 else ("", "")
    html = (
        f"<html><head><title>{page_title}</title></head><body>"
        f'<div id="header"><div class="nav">{nav}</div></div>'
        f'<div id="page">'
        f'<div id="sidebar">{sidebar_items}{related}</div>'
        f'{open_wrap}<div id="{main_id}" data-src="{source}" lang="{lang}">'
        f"<{htag}{_cls(cls_head)}>{title}</{htag}>"
        f"{content}"
        f"</div>{close_wrap}</div>"
        f'<div id="footer"><p{_cls(cls_foot)}>{footer_text}</p></div>'
        f"</body></html>"
    )
    # expected extraction = headline + content paragraphs, in order
    expected = [title] + paras

    # interleave: split html at deterministic points into 3 spans + media
    third = len(html) // 3
    spans = [
        {"kind": "html", "text": html[:third], "media_ref": None, "offset": 0},
        {"kind": "media", "text": "", "media_ref": f"media://img/{doc_id}-hero.jpg", "offset": 1},
        {"kind": "html", "text": html[third : 2 * third], "media_ref": None, "offset": 2},
        {"kind": "html", "text": html[2 * third :], "media_ref": None, "offset": 3},
        {"kind": "media", "text": "", "media_ref": f"media://vid/{doc_id}.mp4", "offset": 4},
    ]
    return spans, expected


def synthesize_docs_pdf(pdf):
    """pandas transform: documents-table frame -> docs-table frame
    (doc_id string, spans).  Used inside mapInPandas."""
    import pandas as pd

    rows = []
    for doc_id, text, lang, source in zip(
        pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
    ):
        spans, _ = synthesize_page(str(doc_id), text, source, lang)
        rows.append((str(doc_id), spans))
    return pd.DataFrame(rows, columns=["doc_id", "spans"])


def synthesize_docs(documents_df):
    """documents table -> interleaved-span docs table (distributed)."""
    from learnhtml_spark.kernels.document import python_task
    from learnhtml_spark.schemas import DOCS

    cols = ["doc_id", "text", "lang", "source"]

    @python_task
    def run(batches):
        for pdf in batches:
            yield synthesize_docs_pdf(pdf[cols])

    return documents_df.select(*cols).mapInPandas(run, schema=DOCS)


def expected_page_rows(doc_id: str, spans, expected) -> list[tuple]:
    """Ground-truth (doc_id, kind, text, media_ref, offset) rows of one
    synthetic page: its blocks whose text is one of its known content
    texts, parsed and assembled by the document kernel."""
    from learnhtml_spark.kernels.document import assemble_doc, parse_doc

    doc = parse_doc(spans)
    want = set(expected)
    return assemble_doc((doc_id,), doc, [b.text in want for b in doc.blocks])


def expected_extraction(documents_pdf):
    """Ground-truth rows for a documents-table pandas frame — the oracle
    for pipeline correctness."""
    rows = []
    for doc_id, text, lang, source in zip(
        documents_pdf["doc_id"],
        documents_pdf["text"],
        documents_pdf["lang"],
        documents_pdf["source"],
    ):
        spans, expected = synthesize_page(str(doc_id), text, source, lang)
        rows.extend(expected_page_rows(str(doc_id), spans, expected))
    return rows
