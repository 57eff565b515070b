"""docling_core_spark — a PySpark-native distributed document extraction engine.

A from-scratch reimplementation of the *semantics* of docling-core
(reference: /root/reference, vtempest/docling-core 2.34.1) as a
document-sharded Spark pipeline:

    read (doc_id, spans[])  ->  mapInPandas(parse -> normalize -> validate
        -> reading-order -> serialize)  ->  (items, span_seq, markdown,
        doctags, html, chunks, metrics)

Nothing in the document semantics crosses documents, so the hot path is a
single shuffle-free Arrow-batched stage; the relational surface (explode /
join / aggregate) is used for metrics, dedup, similarity and golden
comparison.

Architecture (NOT a port — reference cited for semantic parity only):
  model/      plain-dict document model: flat item arrays + ref graph
  parse/      span-stream interpreter + DocTags string parser + OTSL
  serialize/  markdown / doctags / html / text / element-tree serializers
  corpus/     corpus-level ops: dedup, text-analysis, ANN, multimodal;
              `corpus.materialize` is the one session-memoized persist
              and `corpus.clear` unpersists every entry
  ops/        ledger, media, outline and overlay operators
  streaming/  checkpoint ledger + structured-streaming entry
  pipeline.py the end-to-end stage + Spark schemas; `pipeline.map_docs`
              is the one per-document mapInPandas stage every
              per-document operator runs through
"""

__version__ = "0.1.0"

CURRENT_VERSION = "1.4.0"  # schema version parity: document.py:57
