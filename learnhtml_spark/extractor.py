"""Single-document extraction surface (reference extractor.py:6-44).

A thin caller of the document kernel (``kernels/document.py``) on a batch
of one: the markup is a one-span document, parsed and classified by the
same phase functions — and the same one-predict model verdict — that
``extract_content_spans`` runs per Arrow batch, so the single-document
API cannot drift from serving.  Returns the positive nodes' XPaths (the
reference's ``extract_from_html`` contract) or the ordered content block
texts.  Unlike the distributed surfaces, a failure here raises to the
caller instead of becoming an error row, and a model whose input columns
differ from the featurizer's is rejected at construction.
"""

from __future__ import annotations

from learnhtml_spark.kernels.document import (
    block_columns, check_model_columns, html_doc, predict_keep)
from learnhtml_spark.model import NodeClassifier


class HTMLExtractor:
    def __init__(self, model: NodeClassifier, depth: int = 5, height: int = 5):
        check_model_columns(model, depth, height)
        self.model = model
        self.depth = depth
        self.height = height

    def _kept_blocks(self, html: str) -> list:
        """(block, path) pairs the model keeps, document order."""
        doc = html_doc(html)
        cols = block_columns(doc, self.depth, self.height)
        (keep,) = predict_keep(self.model, [doc], [cols], self.depth, self.height)
        return [(b, p) for b, p, k in zip(doc.blocks, doc.paths, keep) if k]

    def extract_from_html(self, html: str) -> list[str]:
        """XPaths of content nodes (prediction == 1), document order."""
        return list(dict.fromkeys(p for _, p in self._kept_blocks(html)))

    def extract_text_blocks(self, html: str) -> list[str]:
        """Ordered content block texts."""
        return [b.text for b, _ in self._kept_blocks(html)]

    @classmethod
    def load(cls, path: str, **kw) -> "HTMLExtractor":
        from learnhtml_spark.exact_model import load_any_model_path

        return cls(load_any_model_path(path), **kw)
