"""pdf_parser_spark — a PySpark-native document extraction engine.

A brand-new, Spark-first implementation of the query/data-processing
capabilities of the reference PDF_PARSER pipeline (kavinsagar532/PDF_PARSER):
main-content extraction over tables of interleaved text + media documents
``(doc_id, spans array<struct<kind,text,media_ref,offset>>)``, producing
ordered span sequences, TOC entries, per-document metadata, sections, and
validation metrics — all as DataFrame plans (Catalyst-optimizable), with
vectorized pandas/Arrow UDFs only where regex semantics demand exact parity.

Design notes (scale-first):
- input is bucketable by ``doc_id``; every per-document operator partitions
  by ``doc_id``, so each stage's exchanges are keyed on it (the span
  sequence needs none when the source is bucketed/sorted by doc_id).
  Stages meet at written stage tables, and each plans its own exchanges:
  at most 1 per stage, except ``sections_preorder`` (2) and ``sections``
  (3); ``tools/explain_audit.py`` prints them.
- no stage broadcasts: per-doc side tables (TOC entries, metadata rows)
  are unioned into the stage's one ``doc_id`` window, not joined.
- skew (mega-docs) handled via two-phase salted reassembly, see
  operators/pages.py.
"""

__version__ = "0.1.0"

from pdf_parser_spark.config import PipelineConfig  # noqa: F401
from pdf_parser_spark.session import get_spark  # noqa: F401
