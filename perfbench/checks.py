"""Output checks for the three workloads.

Each check takes plain Python/pandas values collected from the program's
output and returns a list of failure messages; an empty list means the
output is correct.  Any failure fails the benchmark run.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd

#: minimum share of planted chain links (copy, its parent) that
#: ``cluster_keepers`` must put in one cluster
DEDUP_RECALL_BOUND = 0.9


def _rows_by_doc(rows) -> dict:
    out = defaultdict(list)
    for r in rows:
        out[r[0]].append(tuple(r))
    return {d: sorted(v, key=lambda r: r[4]) for d, v in out.items()}


def check_extract(lineage: pd.DataFrame, n_docs: int, n_buckets: int,
                  error_ids, malformed, sample_rows, expected_rows) -> list[str]:
    """lineage: this run's rows (bucket, doc_count, error_count, status);
    error_ids: doc ids of output rows with kind 'error'; sample_rows /
    expected_rows: (doc_id, kind, text, media_ref, offset) of the sample."""
    fails = []
    ok = lineage[lineage["status"] == "ok"]
    per_bucket = Counter(ok["bucket"])
    if sorted(per_bucket) != list(range(n_buckets)) or set(per_bucket.values()) != {1}:
        fails.append(f"extract: lineage buckets {dict(per_bucket)} != one ok row "
                     f"per bucket 0..{n_buckets - 1}")
    if int(ok["doc_count"].sum()) != n_docs:
        fails.append(f"extract: lineage doc_count {int(ok['doc_count'].sum())} != {n_docs}")
    if sorted(error_ids) != sorted(malformed):
        fails.append(f"extract: error rows for {sorted(error_ids)[:5]} "
                     f"({len(error_ids)}) != planted {sorted(malformed)[:5]} "
                     f"({len(malformed)})")
    if int(ok["error_count"].sum()) != len(malformed):
        fails.append(f"extract: lineage error_count {int(ok['error_count'].sum())} "
                     f"!= {len(malformed)}")
    got, want = _rows_by_doc(sample_rows), _rows_by_doc(expected_rows)
    bad = [d for d in want if got.get(d) != want[d]]
    if bad or not want:
        fails.append(f"extract: {len(bad)} of {len(want)} sampled docs differ "
                     f"from corpus.expected_extraction, e.g. {bad[:3]}")
    return fails


def warc_truth_rows(url: str, texts, media) -> list[tuple]:
    """Expected classifier output for one crawled page: its content blocks
    in order (the page is one html span at offset 0), then its media."""
    rows = [(url, "text", t, None, i) for i, t in enumerate(texts)]
    rows += [(url, "media", "", m, len(texts) + i) for i, m in enumerate(media)]
    return rows


def check_crawl(processed_calls, archives, lineage: pd.DataFrame,
                n_pages: int, sample_rows, truth) -> list[str]:
    """processed_calls: each call's ``processed`` archive list; lineage:
    this run's rows (archive, doc_count, error_count, status); truth:
    {url: (texts, media_urls)} for the sampled pages."""
    fails = []
    seen = Counter(a for call in processed_calls for a in call)
    if sorted(seen) != sorted(archives) or set(seen.values()) != {1}:
        extra = {a: c for a, c in seen.items() if c != 1}
        fails.append(f"crawl: archives processed {len(seen)} of {len(archives)}, "
                     f"repeated {extra}")
    ok = lineage[lineage["status"] == "ok"]
    if sorted(ok["archive"]) != sorted(archives):
        fails.append(f"crawl: lineage has {len(ok)} ok rows for "
                     f"{len(archives)} archives")
    if int(ok["doc_count"].sum()) != n_pages:
        fails.append(f"crawl: lineage docs {int(ok['doc_count'].sum())} != "
                     f"{n_pages} generated 200 pages")
    if int(ok["error_count"].sum()) != 0:
        fails.append(f"crawl: {int(ok['error_count'].sum())} error rows")
    got = _rows_by_doc(sample_rows)
    bad = [u for u, (texts, media) in truth.items()
           if got.get(u) != warc_truth_rows(u, texts, media)]
    if bad or not truth:
        fails.append(f"crawl: {len(bad)} of {len(truth)} sampled pages differ "
                     f"from the generator's truth, e.g. {bad[:3]}")
    return fails


def dedup_recall(out: pd.DataFrame, corpus: pd.DataFrame) -> float:
    """Share of planted chain links (copy, parent) placed in one cluster."""
    cl = dict(zip(out["doc_id"], out["cluster_id"]))
    chained = corpus[corpus["chain"] >= 0].sort_values(["chain", "pos"])
    links = hit = 0
    prev_chain, prev_id = None, None
    for c, d in zip(chained["chain"], chained["doc_id"]):
        if c == prev_chain:
            links += 1
            hit += cl.get(d) == cl.get(prev_id)
        prev_chain, prev_id = c, d
    return hit / links if links else 1.0


def check_dedup(out: pd.DataFrame, corpus: pd.DataFrame) -> list[str]:
    """out: cluster_keepers rows (doc_id, cluster_id, keeper_id, is_kept);
    corpus: the generated (doc_id, n_chars, chain, pos) frame."""
    fails = []
    counts = Counter(out["doc_id"])
    if set(counts) != set(corpus["doc_id"]) or set(counts.values()) != {1}:
        fails.append(f"dedup: {len(counts)} distinct docs out for "
                     f"{len(corpus)} in, {sum(c > 1 for c in counts.values())} repeated")
        return fails
    m = out.merge(corpus[["doc_id", "n_chars", "chain"]], on="doc_id")
    # a planted chain's label for singletons is their own (negative) id
    m["label"] = m["chain"].where(m["chain"] >= 0, -m["doc_id"])
    labels = m.groupby("cluster_id")["label"].nunique()
    mixed = labels[labels > 1]
    if len(mixed):
        fails.append(f"dedup: {len(mixed)} clusters merge unrelated docs, "
                     f"e.g. {list(mixed.index[:3])}")
    recall = dedup_recall(out, corpus)
    if recall < DEDUP_RECALL_BOUND:
        fails.append(f"dedup: recall {recall:.3f} < {DEDUP_RECALL_BOUND}")
    best = (m.sort_values(["cluster_id", "n_chars", "doc_id"],
                          ascending=[True, False, True])
            .drop_duplicates("cluster_id")
            .set_index("cluster_id")["doc_id"])
    want_keeper = m["cluster_id"].map(best)
    bad = m[(m["keeper_id"] != want_keeper)
            | (m["is_kept"] != (m["doc_id"] == want_keeper))]
    if len(bad):
        fails.append(f"dedup: {len(bad)} docs with a keeper other than the "
                     f"highest-n_chars member, e.g. {list(bad['doc_id'][:3])}")
    return fails
