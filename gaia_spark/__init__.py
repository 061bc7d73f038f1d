"""gaia_spark — PySpark-native knowledge-graph construction engine.

A from-scratch, Spark-first re-expression of the GAIA cross-media
knowledge-extraction pipeline (/root/reference/README.md:1) per
SURVEY.md: the reference's Docker-per-stage file-handoff dataflow
becomes lazy DataFrame transforms over partitioned columnar tables,
with Catalyst/AQE doing join selection, pushdown and skew handling,
and Arrow-batched pandas UDFs carrying the per-document text logic.

Layout (SURVEY.md §2):
  session.py            tuned SparkSession factory
  catalog.py            checkpoint tables, replace-by-run_id, lineage
  operators/extract     T1  html→text (+ sentence index)
  operators/mentions    T2/T3/T5/T7 + per-doc T6/T8/T9: the one fused
                        per-document tagger (tag_flat, mapInPandas)
  operators/linking     T4  broadcast alias join + MinHash/LSH NIL
  operators/graph       J5  connected components and graph kernels
  operators/event_coref T10 graph-based event coreference
  operators/canonicalize T11/T12 canonical ids + triple dedup
  operators/cleankb     T13 provenance semi-join + bounds
  operators/vision      V1–V7 cross-media fusion
  operators/bgp, merge, salience, walks   KG query, upsert, salience,
                        hash random walks over the built graph
  functions/            corpus dedup, similarity/ANN, text analysis, …
  streaming/            Structured-Streaming lifts of the batch stages
  plans/pipeline        stage orchestration, checkpoints, resume
  sources/              readers/sinks (pages, KB, ColdStart .cs, AIF ttl)
"""

__version__ = "0.1.0"
