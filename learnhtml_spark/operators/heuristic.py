"""Model-free DOM-heuristic content extraction — the "DOM heuristics" leg
of the north rule's extraction triad (HTML boilerplate strip / PDF parse /
DOM heuristics), next to the ML classifier path in ``operators/extract.py``.

Both legs are thin callers of the same document kernel
(``kernels/document.py``): parse -> blockify -> verdict -> assemble, with
the kernel's one error-row contract (a poison document becomes a
``kind='error'``, ``offset=-1`` row, never a task failure).  Here the
verdict is the kernel's deterministic density ruleset,
``heuristic_block_flags``, in the style of jusText (Pomikalek 2011,
"Removing boilerplate and duplicate content from web corpora") and
boilerpipe's NumberOfWords/LinkDensity classifier (Kohlschuetter,
Fankhauser, Nejdl, WSDM 2010, "Boilerplate detection using shallow text
features").

No model artifact, no training, no broadcast — the plan is scan -> ONE
mapInPandas -> spans, zero exchanges, the same shape as the classifier
path.  Inputs and outputs use the interleaved span model (BASELINE.json
input_hint): (doc_id, spans) in, ordered (doc_id, kind, text, media_ref,
offset) out, with media spans carried through in reading order.

Correctness contract: the driver query ``heuristic_spans`` is attested by
a golden-join oracle (scripts/make_goldens.py writes ``heuristic.parquet``
from a sequential single-process run of ``extract_spans_heuristic_doc``,
the kernel on a batch of one) — the oracle asserts distributed execution
is value-identical to the sequential reference run, the
``node_features``/``label_ratios`` pattern.

Reference parity note: the reference repo has no heuristic extractor (its
extraction is purely model-driven, learnhtml/extractor.py); this operator
is beyond-reference surface motivated by the north rule's wording.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from learnhtml_spark.kernels.document import extract_rows
from learnhtml_spark.operators.extract import keyed_spans
from learnhtml_spark.schemas import EXTRACTED_SPANS


def extract_spans_heuristic_doc(doc_id: str, spans: list[dict]) -> list[tuple]:
    """Sequential per-document run: spans -> ordered output rows.

    The kernel on a batch of one — the same code the Spark operator below
    runs per Arrow batch, so the golden generator (scripts/make_goldens.py)
    attests distributed == sequential execution of ONE code path.
    """
    return extract_rows([((doc_id,), spans)])


def heuristic_extract_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> ordered content+media span rows, no model.

    Plan shape: scan -> mapInPandas -> output.  Zero exchanges, zero
    broadcasts; per-document cost is parse + blockify only (no feature
    extraction, no predict), so this is the cheap first-pass strip for
    pipelines that reserve the classifier for ambiguous pages.
    """
    return keyed_spans(docs, None, ["doc_id"], EXTRACTED_SPANS)
