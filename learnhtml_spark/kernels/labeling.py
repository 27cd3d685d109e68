"""Labeling: fuzzy-match extracted blocks against gold-standard text.

Replicates the reference's dataset-conversion semantics
(learnhtml/dataset_conversion/conversion.py:73-148): blockify the page,
concatenate all block tokens, LCS-align against the concatenated gold
tokens, and compute per-block inclusion ratios keyed by the XPath of the
block's start element.  Non-block nodes receive the sentinel ratio
``NON_CONTENT_BLOCK_RATIO`` (1e-10) and empty block text.

``block_ratios`` is the one LCS routine: it takes an already-blockified
document, so training labels the serving kernel's own blocks
(``training.py``).  The html-taking helpers here, for the ``label``
operator and the goldens, parse through the same kernel (``html_doc``),
which keeps comments/PIs as the reference's ``etree.HTML`` defaults do
(conversion.py:86) — it matters because the blockifier skips text that
follows comment nodes.  Not in the serving path.
"""

from __future__ import annotations

from learnhtml_spark.htmlparse import getpath
from learnhtml_spark.kernels.document import html_doc
from learnhtml_spark.kernels.lcs import check_inclusion
from learnhtml_spark.kernels.tokenize import simple_tokenizer

NON_CONTENT_BLOCK_RATIO = 1e-10


def block_ratios(blocks, paths: list[str], gold_standard: list[str]):
    """[(path, inclusion_ratio)] per block of an already-blockified
    document, in document order: the share of the block's tokens in the
    LCS of all block tokens against all gold tokens (0.0 for a block
    without tokens)."""
    block_tokens = [simple_tokenizer(b.text) for b in blocks]
    all_gold = [t for gb in gold_standard for t in simple_tokenizer(gb)]
    inclusions = check_inclusion(
        [t for toks in block_tokens for t in toks], all_gold
    )
    out, pos = [], 0
    for path, toks in zip(paths, block_tokens):
        num = sum(inclusions[pos : pos + len(toks)])
        pos += len(toks)
        out.append((path, (num / len(toks)) if toks else 0.0))
    return out


def get_block_ratios(html: str, gold_standard: list[str]) -> list[tuple[str, float]]:
    """[(xpath_of_block_start, inclusion_ratio)] in document order."""
    doc = html_doc(html)
    return block_ratios(doc.blocks, doc.paths, gold_standard)


def get_text_blocks(html: str) -> list[tuple[str, str]]:
    """[(xpath_of_block_start, block_text)] in document order."""
    doc = html_doc(html)
    return [(p, b.text) for p, b in zip(doc.paths, doc.blocks)]


def get_ratios_per_html(html: str, gold_standard: list[str]):
    """Rows (node_path, ratio, block_text) for EVERY node of the document
    (comments included), defaulting non-block nodes to the sentinel ratio —
    conversion.py:133-148.  One parse and one blockify; dict() keeps the
    LAST duplicate path."""
    doc = html_doc(html)
    ratio_dict = dict(block_ratios(doc.blocks, doc.paths, gold_standard))
    text_dict = dict(zip(doc.paths, (b.text for b in doc.blocks)))
    return [
        (path, ratio_dict.get(path, NON_CONTENT_BLOCK_RATIO), text_dict.get(path, ""))
        for path in map(getpath, doc.root.iter())
    ]
