"""building_a_rag_pipeline_with_airflow_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the data-processing capabilities of the
reference repo ``BigDataTeam5/Building-a-RAG-Pipeline-with-Airflow`` (a RAG
document pipeline + tabular SQL viewer) as an idiomatic Spark engine:

* table loaders for documents / embeddings / events and the tabular
  star schema (SURVEY.md §1 D1–D6)
* chunking operators (fixed / recursive / semantic — reference
  ``Chunking_Strats/chromadb_rag.py:49-93``)
* text analysis (token counting, quality scoring, language id,
  fingerprinting)
* vector ops (cosine top-k retrieval, knn join, LSH/minhash dedup)
* tabular query surface (filter pushdown, pagination, column profiling —
  reference ``Frontend/app.py``)
* structured-streaming ingestion and gates over document drops

Everything is DataFrame/SQL-first so Catalyst gets to optimize; Python only
appears in vectorized pandas UDFs on genuinely non-relational steps.
"""

from building_a_rag_pipeline_with_airflow_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
