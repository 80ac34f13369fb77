"""entity_extractor_by_pointer_spark — a PySpark-native knowledge-graph
construction pipeline.

Semantics (span extraction, pointer decoding, dedup, evaluation) follow the
reference ``stanleylsx/entity_extractor_by_pointer`` (see SURVEY.md for
file:line parity citations). The execution engine is Spark DataFrames +
Arrow-vectorized pandas UDFs — this is a from-scratch Spark-first build,
not a port of the reference's single-process PyTorch engine.

Layout:
  functions/   pure-python/numpy semantics shared by Spark UDFs and the
               single-process parity oracle (tokenizer, encoders, pointer
               heads, span decode, text statistics)
  sources/     synthetic pages generator, testdata loaders
  operators/   DataFrame-level pipeline stages (extract, mentions, linking,
               canonicalize, triples, dedup, similarity, evaluate)
  plans/       end-to-end pipeline runner with lineage/metrics/resume
"""

__version__ = "0.1.0"
