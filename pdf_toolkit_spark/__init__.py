"""pdf_toolkit_spark — a PySpark-native document extraction engine.

A from-scratch, Spark-first reimplementation of the capabilities of the
reference CLI ``duck-lint/PDF-toolkit`` (studied at /root/reference/):
PDF parsing, page rendering, rotation normalization, two-page-spread
splitting via projection-profile gutter detection, page-bound cropping,
outer-bar (boilerplate) stripping — re-expressed as a distributed
extraction pipeline over tables of interleaved text+media documents:

    (doc_id string, pdf_bytes binary)  -->
    (doc_id string, spans array<struct<kind,text,media_ref,offset>>)

Architecture (see SURVEY.md for the full mapping):

- ``kernels``   — pure NumPy heuristics (gutter detect, crop bbox, outer
                  bar, symmetry), semantics pinned 1:1 by ported tests.
- ``pdfio``     — deterministic mini-PDF writer (fixture corpus) and a
                  real PDF reader: xref walk, object parser,
                  content-stream tokenizer (the north rule's parse path).
- ``extract``   — the per-document kernel pipeline (serial oracle).
- ``spark``     — the distributed job: one Arrow-batched ``mapInArrow``
                  stage, relational boilerplate strip (window + filter),
                  anti-join checkpoint resume, skew salting for mega
                  PDFs, lineage + metrics sinks.
- ``ops``       — large-scale training-data ops: dedup (exact / MinHash
                  LSH / SimHash / n-gram Jaccard), similarity search,
                  text analysis, multimodal column plumbing.

Everything here derives from public knowledge only (Apache Spark APIs,
the reference repo's observable behavior, published dedup/LSH papers).
"""

__version__ = "0.1.0"
