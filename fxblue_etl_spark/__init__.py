"""fxblue_etl_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the Anish6964/fxblue-etl reference
(keyed upsert ingestion of FX trade CSVs and RSS account feeds, plus
the relational analysis surface over the produced tables) as idiomatic
Spark DataFrame / SQL plans, and adds the LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns) the
north-star mandates — all designed for cluster scale.

Layout:
  session.py            SparkSession builder + session conf guard
  io.py                 fixture/table loaders
  operators/cleaning.py scalar transforms T1-T8, P1-P5, F2-F4 (SURVEY §2.3-2.5)
  operators/merge.py    keyed upsert/merge K1-K3, D2-D3 (SURVEY §2.2, §2.6)
  operators/windows.py  LOCF W1, keep-one-per-key W2, top-k (SURVEY §2.7)
  operators/dedup.py    exact/minhash/simhash/ngram dedup (SURVEY §2.13)
  operators/similarity.py  embedding cosine top-k, LSH/IVF ANN
  operators/textops.py  token/quality/lang-id/fingerprint text analysis
  operators/multimodal.py  binary-column pipelines (decode stubbed)
  sources/fxblue_csv.py FXBlue CSV scan (title-row skip) + ingest pipeline
  sources/rss_feed.py   RSS feed entry pipeline (fetch behind interface)
  plans/relational.py   relational query surface (joins/aggs/windows/setops)
  streaming/pipelines.py Structured Streaming restatement (SURVEY §2.11)
"""

__version__ = "0.1.0"

from fxblue_etl_spark.session import _cache_zip_directories, _freeze_worker_heap

# A Python worker imports this package when it unpickles a kernel, so
# every worker that runs one stops re-reading unchanged zips per task
# and stops re-walking its import heap after each task.
_cache_zip_directories()
_freeze_worker_heap()
