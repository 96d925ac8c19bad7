"""de_spark — a from-scratch PySpark-native knowledge-graph construction
and query engine with the capabilities of DeciSym/de.

The reference (/root/reference, BSD-3 Rust CLI) turns RDF files into HDT
(four-section dictionary + SPO-ordered integer triples) and answers SPARQL
over them.  This package re-expresses those semantics as idiomatic Spark
DataFrame stages:

- ``de_spark.sources``    — RDF/N-Triples readers and result-format writers
                            (reference: src/rdf2nt.rs, src/query.rs).
- ``de_spark.terms``      — HDT term string codec (src/sparql.rs:372-413).
- ``de_spark.corpus``     — deterministic synthetic source-code corpus
                            (BASELINE.json input_hint shape).
- ``de_spark.extract``    — vectorized per-language triple extractors
                            (the Rdf2Nt trait slot, src/rdf2nt.rs:15-28).
- ``de_spark.dictionary`` — HDT-style four-section dictionary + global
                            term-uid assignment (hdt crate behavior, S4).
- ``de_spark.encode``     — integer triple encoding, SPO-sorted writes.
- ``de_spark.stats``      — VOID header statistics (src/view.rs:52-55).
- ``de_spark.pipeline``   — checkpointed end-to-end build (de create).
- ``de_spark.query``      — triple-pattern API, SPARQL-lite compiler and
                            result emitters (de query).
- ``de_spark.store``      — whole-graph add/drop + directory sync (the
                            reference mutation surface, src/serve.rs).
- ``de_spark.docs_kg``    — the KG over the ``documents`` table that the
                            kg_* rows of ``__spark_entry__`` query.
"""

__version__ = "0.1.0"
