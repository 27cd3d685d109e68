"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of the seed and the size arguments, so
the same seed gives the same inputs.  Sizes are drawn by stratified
quantiles (the size multiset is fixed, the seed only decides which doc
gets which size), which keeps heavy tails while holding the total work of
a run constant across seeds.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pandas as pd

#: word frequencies of the sf0.1 ``documents`` table (5000 rows, 31 words)
VOCAB = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144,
    "column": 9127, "vector": 9119, "stream": 9117, "value": 9112,
    "data": 9104, "small": 9100, "join": 9080, "filter": 9063, "big": 9057,
    "group": 9040, "hash": 9024, "customer": 9017, "sort": 9005,
    "order": 8971, "slow": 8960, "line": 8951, "part": 8929, "fast": 8926,
    "row": 8925, "the": 8925, "agg": 8912, "key": 8893, "query": 8881,
    "a": 8877, "scan": 8863, "batch": 8829, "dup": 255,
}
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
N_SOURCES = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream)."""
    return np.random.default_rng([seed, *stream.encode()])


def pareto_sizes(rng, n: int, lo: int, scale: float, alpha: float, cap: int):
    """n heavy-tailed sizes: stratified Pareto quantiles, shuffled."""
    u = (np.arange(n) + 0.5) / n
    sizes = lo + scale * ((1.0 - u) ** (-1.0 / alpha) - 1.0)
    sizes = np.minimum(sizes, cap).astype(np.int64)
    rng.shuffle(sizes)
    return sizes


def _texts(rng, n_words) -> list[str]:
    words = np.array(list(VOCAB))
    p = np.array(list(VOCAB.values()), dtype=np.float64)
    p /= p.sum()
    flat = rng.choice(words, size=int(n_words.sum()), p=p)
    out, pos = [], 0
    for k in n_words:
        out.append(" ".join(flat[pos: pos + k]))
        pos += k
    return out


def documents(seed: int, n: int, lo: int, scale: float, cap: int,
              id_base: int = 0) -> pd.DataFrame:
    """A ``documents``-table frame (doc_id, text, lang, source, n_chars) of
    n unique pages with heavy-tailed word counts."""
    rng = _rng(seed, "documents")
    n_words = pareto_sizes(rng, n, lo, scale, 1.2, cap)
    texts = _texts(rng, n_words)
    ids = id_base + np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def malformed_ids(seed: int, doc_ids, frac: float = 0.001) -> list[str]:
    """The seeded ~0.1% of doc ids whose spans get a null ``offset``."""
    n = max(1, round(len(doc_ids) * frac))
    rng = _rng(seed, "malformed")
    pick = rng.choice(len(doc_ids), size=n, replace=False)
    return sorted(str(doc_ids[i]) for i in pick)


def sample_ids(seed: int, doc_ids, k: int, exclude=()) -> list[str]:
    """A seeded sample of k doc ids (as strings), outside ``exclude``."""
    skip = set(exclude)
    pool = [str(d) for d in doc_ids if str(d) not in skip]
    rng = _rng(seed, "sample")
    return sorted(pool[i] for i in rng.choice(len(pool), size=k, replace=False))


def write_parquet(pdf: pd.DataFrame, schema, path: str, n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files of consecutive rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(pdf) // n_files)
    for i, lo in enumerate(range(0, len(pdf), step)):
        part = pa.Table.from_pandas(pdf.iloc[lo: lo + step], schema=schema,
                                    preserve_index=False)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def size_quantiles(values) -> dict:
    q = np.quantile(np.asarray(values), [0.5, 0.9, 0.99, 1.0])
    return {"p50": int(q[0]), "p90": int(q[1]), "p99": int(q[2]),
            "max": int(q[3])}


# ---------------------------------------------------------------------------
# crawl_resume: WARC archives
# ---------------------------------------------------------------------------


def warc_url(doc_id) -> str:
    return f"https://bench.example/{doc_id}"


def write_archives(seed: int, out_dir: str, n_archives: int,
                   pages_per_archive: int, id_base: int = 0) -> dict:
    """Write ``n_archives`` WARC files (alternating ``.warc``/``.warc.gz``)
    of small pages built with ``corpus.synthesize_page``; ~6% of responses
    are 404s and ~40% of pages are followed by an image record.

    Returns the truth: {"pages": {url: (texts, media_urls)}, "archives":
    [names], "n_404": int, "n_images": int}."""
    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.sources.warc_source import build_record, http_response

    rng = _rng(seed, "warc")
    n = n_archives * pages_per_archive
    docs = documents(seed, n, lo=20, scale=12.0, cap=400, id_base=id_base)
    status = np.where(rng.random(n) < 0.06, 404, 200)
    has_img = rng.random(n) < 0.4
    img_len = rng.integers(200, 2000, size=n)
    date = {"WARC-Date": "2026-01-01T00:00:00Z",
            "Content-Type": "application/http; msgtype=response"}
    os.makedirs(out_dir, exist_ok=True)
    pages, names, n_images = {}, [], 0
    for a in range(n_archives):
        recs = [build_record("warcinfo", {"WARC-Date": date["WARC-Date"]},
                             b"software: perfbench\r\n")]
        for i in range(a * pages_per_archive, (a + 1) * pages_per_archive):
            doc_id = str(docs["doc_id"][i])
            url = warc_url(doc_id)
            recs.append(build_record(
                "request", {"WARC-Target-URI": url, **date},
                b"GET / HTTP/1.1\r\nHost: bench.example\r\n\r\n"))
            if status[i] == 404:
                body = b"<html><body><h1>404 Not Found</h1></body></html>"
                recs.append(build_record(
                    "response", {"WARC-Target-URI": url, **date},
                    http_response(404, "Not Found", "text/html", body)))
                continue
            spans, expected = synthesize_page(
                doc_id, docs["text"][i], docs["source"][i], docs["lang"][i])
            html = "".join(s["text"] for s in spans if s["kind"] == "html")
            recs.append(build_record(
                "response", {"WARC-Target-URI": url, **date},
                http_response(200, "OK", "text/html; charset=utf-8",
                              html.encode("utf-8"))))
            media = []
            if has_img[i]:
                murl = f"{url}/img.png"
                blob = rng.bytes(int(img_len[i]))
                recs.append(build_record(
                    "response", {"WARC-Target-URI": murl, **date},
                    http_response(200, "OK", "image/png", blob)))
                media.append(murl)
                n_images += 1
            pages[url] = (expected, media)
        gz = a % 2 == 1
        name = f"crawl-{a:05d}.warc" + (".gz" if gz else "")
        data = (b"".join(gzip.compress(r, mtime=0) for r in recs) if gz
                else b"".join(recs))
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        names.append(name)
    return {"pages": pages, "archives": names,
            "n_404": int((status == 404).sum()), "n_images": n_images,
            "page_words": docs["text"].str.split().str.len().tolist()}


# ---------------------------------------------------------------------------
# dedup_keepers: singletons plus planted near-duplicate chains
# ---------------------------------------------------------------------------


def dedup_corpus(seed: int, n_singletons: int, n_chains: int,
                 edits: int = 2, vocab_size: int = 20000) -> pd.DataFrame:
    """(doc_id, text, n_chars, chain) frame.  ``chain`` is -1 for a
    singleton, else the planted chain index; within a chain every copy
    substitutes or drops ``edits`` tokens of the previous copy, so the
    cluster diameter grows with the chain.  Chain sizes are heavy-tailed
    (2..40) and doc ids are shuffled, so neither the chain root nor the
    keeper is the smallest id by construction."""
    rng = _rng(seed, "dedup")
    vocab = np.array([f"w{i:05d}" for i in range(vocab_size)])
    zipf_p = 1.0 / np.arange(1, vocab_size + 1) ** 0.8
    zipf_p /= zipf_p.sum()

    chain_sizes = pareto_sizes(rng, n_chains, 2, 2.0, 1.1, 40)
    body_len = pareto_sizes(rng, n_singletons + n_chains, 60, 40.0, 1.5, 1500)
    n_edits = int((chain_sizes - 1).sum()) * edits
    pool = iter(rng.choice(vocab, size=int(body_len.sum()) + n_edits, p=zipf_p))

    def fresh(k):
        return [next(pool) for _ in range(k)]

    subs = iter(fresh(n_edits))
    texts, chain = [], []
    for i in range(n_singletons):
        texts.append(fresh(int(body_len[i])))
        chain.append(-1)
    for c in range(n_chains):
        toks = fresh(int(body_len[n_singletons + c]))
        texts.append(toks)
        chain.append(c)
        for _ in range(int(chain_sizes[c]) - 1):
            toks = list(toks)
            for _ in range(edits):
                pos = int(rng.integers(0, len(toks)))
                sub = next(subs)
                if rng.random() < 0.5:
                    toks[pos] = sub
                else:
                    del toks[pos]
            texts.append(toks)
            chain.append(c)
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64) + 1
    text = [" ".join(t) for t in texts]
    return pd.DataFrame({
        "doc_id": ids,
        "text": text,
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        "chain": np.array(chain, dtype=np.int64),
        "pos": _chain_positions(chain),
    })


def _chain_positions(chain) -> np.ndarray:
    """Position of each row inside its chain (0 for singletons/roots)."""
    out, seen = [], {}
    for c in chain:
        if c < 0:
            out.append(0)
        else:
            out.append(seen.get(c, 0))
            seen[c] = seen.get(c, 0) + 1
    return np.array(out, dtype=np.int64)


def cluster_size_hist(chain) -> dict:
    """{cluster size: count} of the planted clusters (singletons = 1)."""
    s = pd.Series(chain)
    sizes = list(s[s >= 0].value_counts()) + [1] * int((s < 0).sum())
    vc = pd.Series(sizes).value_counts().sort_index()
    return {int(k): int(v) for k, v in vc.items()}
