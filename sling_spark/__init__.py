"""sling_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the *capabilities* of ringgaard/sling
(frame-semantic KB construction: document annotation, entity linking,
triple extraction, identifier reconciliation) re-expressed as idiomatic
Spark: DataFrames for all cross-record dataflow, Arrow-batched pandas
UDFs for per-document logic, broadcast joins for the commons/phrase-table
assets, and connected components over same-as edges for canonicalization.

Reference semantics are cited per-module as ``file:line`` into the
read-only snapshot at /root/reference (studied for behavior only; no code
is copied — the execution model here is Catalyst/Tungsten, not SLING's
single-machine message-passing task engine).

Package layout
--------------
- ``functions/``  shared scalar semantics (normalization, fingerprints,
                  tokenization) used by BOTH the Spark pipeline and the
                  pure-Python oracle, plus Spark Column helpers.
- ``sources/``    synthetic deterministic corpus + seed-KB generators and
                  generic readers (the Iceberg-table stand-ins).
- ``kg/``         the pipeline stages (documents, phrase table, mentions,
                  relations, xref clustering, reconcile/merge, pipeline).
- ``oracle/``     pure-Python single-threaded oracle of the same
                  semantics, used as the correctness fixture.
- ``operators/``  training-data-pipeline operators (dedup, similarity
                  search, text stats) over generic document/embedding
                  tables.
- ``streaming/``  Structured Streaming equivalents of the incremental
                  paths.
- ``plans/``      plan-inspection helpers (explain/pushdown assertions).
"""

__version__ = "0.1.0"
